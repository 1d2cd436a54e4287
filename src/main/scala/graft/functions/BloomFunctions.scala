package graft.functions

import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL names for Spark's native bloom-filter sketch expressions
  * (the codegen'd pair behind runtime bloom-filter joins; reference:
  * Hive GenericUDAFBloomFilter / in_bloom_filter — SURVEY.md §2.4).
  *
  * `bloom_filter_agg(xxhash64(k), items, bits)` builds a binary sketch;
  * `bloom_might_contain(sketch, xxhash64(k))` probes it. Both are native
  * Catalyst expressions — the probe stays inside whole-stage codegen,
  * unlike a Scala UDF wrapping `BloomFilter.mightContain` (per-row
  * serialization wall). Spark keeps them out of the public registry
  * (they back `InjectRuntimeFilter`), so graft's catalog names them.
  */
object BloomFunctions {
  val sqlFunctions: Seq[SqlFunction] = table(getClass.getName)(
    "bloom_filter_agg" -> { exprs =>
      require(exprs.size == 3, "bloom_filter_agg(xxhash64(col), estItems, numBits)")
      new BloomFilterAggregate(exprs.head, exprs(1), exprs(2), 0, 0)
    },
    "bloom_might_contain" -> { exprs =>
      require(exprs.size == 2, "bloom_might_contain(sketch, xxhash64(col))")
      BloomFilterMightContain(exprs.head, exprs(1))
    })
}
