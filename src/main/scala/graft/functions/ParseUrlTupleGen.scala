package graft.functions

import java.net.URI

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Hive `parse_url_tuple` as a genuine Catalyst `Generator` (UDTF) —
  * the §2.10 custom-Generator extensibility path (reference:
  * `GenericUDTFParseUrlTuple` in the hive-exec jar, SURVEY.md §2.7 URL
  * family). One input row → one output row with N named string fields,
  * usable in `LATERAL VIEW parse_url_tuple(url, 'HOST', 'QUERY:k') t AS
  * host, qk` in any session carrying [[graft.GraftExtensions]].
  *
  * Part names follow Hive: HOST, PATH, QUERY, REF, PROTOCOL, FILE,
  * AUTHORITY, USERINFO, and QUERY:<key>.
  */
case class ParseUrlTupleGen(children: Seq[Expression])
    extends Generator with CodegenFallback {

  private lazy val parts: Seq[String] = children.tail.map {
    case Literal(v: UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"parse_url_tuple part arguments must be string literals, got $other")
  }

  override def elementSchema: StructType = StructType(parts.map { p =>
    StructField(p.toLowerCase.replace(":", "_"), StringType, nullable = true)
  })

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (children.size < 2)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "parse_url_tuple requires (url, part, ...)")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  private def extract(uri: URI, part: String): UTF8String = {
    val v: String = part match {
      case "HOST" => uri.getHost
      case "PATH" => uri.getRawPath
      case "QUERY" => uri.getRawQuery
      case "REF" => uri.getRawFragment
      case "PROTOCOL" => uri.getScheme
      case "AUTHORITY" => uri.getRawAuthority
      case "USERINFO" => uri.getRawUserInfo
      case "FILE" =>
        val p = Option(uri.getRawPath).getOrElse("")
        Option(uri.getRawQuery).map(q => s"$p?$q").getOrElse(p)
      case q if q.startsWith("QUERY:") =>
        val key = q.stripPrefix("QUERY:")
        Option(uri.getRawQuery).flatMap { qs =>
          qs.split("&").collectFirst {
            case kv if kv.startsWith(key + "=") => kv.substring(key.length + 1)
          }
        }.orNull
      case _ => null
    }
    if (v == null) null else UTF8String.fromString(v)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val urlVal = children.head.eval(input)
    if (urlVal == null) {
      Iterator.single(InternalRow.fromSeq(Seq.fill(parts.size)(null)))
    } else {
      val fields =
        try {
          val uri = new URI(urlVal.toString)
          parts.map(extract(uri, _))
        } catch { case _: Exception => Seq.fill(parts.size)(null) }
      Iterator.single(InternalRow.fromSeq(fields))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ParseUrlTupleGen =
    copy(children = newChildren)
}

object ParseUrlTupleGen {
  val sqlFunctions: Seq[SqlFunction] = table(classOf[ParseUrlTupleGen].getName)(
    "parse_url_tuple" -> (exprs => ParseUrlTupleGen(exprs)))
}
