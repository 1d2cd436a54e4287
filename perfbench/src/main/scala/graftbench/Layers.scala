package graftbench

import graft.functions.TextHashOps
import org.apache.spark.unsafe.types.UTF8String

import java.io.{File, PrintWriter}

/** Per-layer totals of a traced run, summed over the timed ops. The scorer
  * divides counts and seconds by the number of ops. */
object Layers {
  def of(t: Tracer, ops: Seq[Main.OpRec], cores: Int): Map[String, Double] = t.synchronized {
    val ids = ops.map(_.id).toSet
    val jobs = t.jobs.values.filter(j => ids(j.op)).toSeq
    val jobIds = jobs.map(_.id).toSet
    val stages = t.stages.values.filter(s => jobIds(s.job)).toSeq
    val qes = t.qes.filter(q => ids(q.op)).toSeq
    val sums = ops.flatMap(o => t.taskSums.get(o.id))
    def tot(f: Tracer.TaskSums => Long): Double = sums.map(f).sum.toDouble
    def phase(q: Tracer.Qe, p: String): Double =
      q.phases.get(p).map { case (s, e) => (e - s) / 1e3 }.getOrElse(0.0)
    val wallS = ops.map(_.latS).sum
    // op wall during which none of the op's jobs ran
    val driverOnly = ops.map { o =>
      val iv = jobs.filter(_.op == o.id).map(j => (j.start, j.end)).sortBy(_._1)
      var covered, lastEnd = 0L
      iv.foreach { case (s, e) =>
        val s1 = math.max(s, lastEnd)
        if (e > s1) covered += e - s1
        lastEnd = math.max(lastEnd, e)
      }
      math.max(0.0, o.latS - covered / 1e3)
    }.sum
    // save return minus the last job end, for every write the ops issued
    val commit = t.writeExecs.toSeq.flatMap { id =>
      val lastJob = jobs.filter(_.execId == id).map(_.end)
      t.sqlEnd.get(id).filter(_ => lastJob.nonEmpty).map(e => (e - lastJob.max) / 1e3)
    }.sum
    Map(
      "ops" -> ops.size.toDouble,
      "wall_s" -> wallS,
      "sqlsurface.run_s" -> ops.filter(_.kind == "query").flatMap(_.phases)
        .collect { case ("build", s, e) => (e - s) / 1e3 }.sum,
      "catalyst.parse_s" -> qes.map(phase(_, "parsing")).sum,
      "catalyst.analysis_s" -> qes.map(phase(_, "analysis")).sum,
      "catalyst.optimization_s" -> qes.map(phase(_, "optimization")).sum,
      "catalyst.planning_s" -> qes.map(phase(_, "planning")).sum,
      "catalyst.plans" -> qes.size.toDouble,
      "codegen.compiles" -> ops.map(_.compiles).sum.toDouble,
      "codegen.compile_s" -> ops.map(_.compileNs).sum / 1e9,
      "builder.s" -> ops.flatMap(_.phases).collect {
        case (p, s, e) if p.startsWith("build") => (e - s) / 1e3 }.sum,
      "builder.jobs" -> jobs.count(_.phase.startsWith("build")).toDouble,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> tot(_.tasks),
      "sched.driver_only_s" -> driverOnly,
      "exec.task_s" -> tot(_.durMs) / 1e3,
      "exec.cpu_s" -> tot(_.cpuNs) / 1e9,
      "exec.gc_s" -> tot(_.gcMs) / 1e3,
      "exec.busy_frac" -> (if (wallS > 0) tot(_.durMs) / 1e3 / (wallS * cores) else 0.0),
      "shuffle.write_bytes" -> tot(_.shuffleW),
      "shuffle.read_bytes" -> tot(_.shuffleR),
      "shuffle.fetch_wait_s" -> tot(_.fetchWaitMs) / 1e3,
      "spill.bytes" -> tot(_.spill),
      "scan.bytes_read" -> tot(_.inBytes),
      "scan.files_read" -> qes.map(_.scanFiles).sum.toDouble,
      "sink.bytes_written" -> tot(_.outBytes),
      "sink.records_written" -> tot(_.outRecords),
      "sink.files_written" -> qes.map(_.writeFiles).sum.toDouble,
      "sink.commit_s" -> commit)
  }

  /** Single-thread cost of graft's minhash kernels: word hashes, 3-gram
    * shingle ids, then the signature, per document (best of three passes). */
  def minhashNsPerDoc(texts: Seq[String]): Double = {
    val utf = texts.map(UTF8String.fromString).toArray
    var sink = 0L
    val passes = (1 to 3).map { _ =>
      val t = System.nanoTime()
      utf.foreach { u =>
        val sig = TextHashOps.minHashSig(TextHashOps.hashGrams(
          TextHashOps.wordHashesFromText(u), 3, true))
        if (sig != null) sink += sig.numElements()
      }
      (System.nanoTime() - t).toDouble / utf.length
    }
    if (sink < 0) println(sink) // a use of the results, so the JIT keeps the loop
    passes.min
  }

  /** One JSON line per span: op → phase (build call / terminal action) →
    * Spark job → stage, plus Catalyst phases as children of their op. */
  def writeSpans(t: Tracer, ops: Seq[Main.OpRec], path: String): Unit = t.synchronized {
    val pw = new PrintWriter(new File(path), "UTF-8")
    def span(id: String, name: String, kind: String, s: Long, e: Long, parent: String, op: Int): Unit =
      pw.println(Json.write(Json.obj("id" -> id, "name" -> name, "kind" -> kind, "start_ms" -> s,
        "end_ms" -> e, "parent" -> parent, "op" -> op)))
    try {
      val byOp = ops.map(o => o.id -> o).toMap
      ops.foreach { o =>
        span(s"op${o.id}", s"${o.kind}:${o.key}", "op", o.startMs,
          o.startMs + (o.latS * 1e3).toLong, null, o.id)
        o.phases.foreach { case (p, s, e) =>
          span(s"op${o.id}.$p", p, if (p.startsWith("build")) "build" else "action", s, e, s"op${o.id}", o.id)
        }
      }
      t.jobs.values.filter(j => byOp.contains(j.op)).foreach { j =>
        span(s"job${j.id}", s"job ${j.id}", "job", j.start, j.end, s"op${j.op}.${j.phase}", j.op)
      }
      t.stages.values.foreach { s =>
        t.jobs.get(s.job).filter(j => byOp.contains(j.op)).foreach { j =>
          span(s"stage${s.id}", s.name, "stage", s.start, s.end, s"job${j.id}", j.op)
        }
      }
      t.qes.filter(q => byOp.contains(q.op)).zipWithIndex.foreach { case (q, i) =>
        q.phases.foreach { case (p, (s, e)) =>
          span(s"qe$i.$p", s"catalyst.$p", "catalyst", s, e, s"op${q.op}", q.op)
        }
      }
    } finally pw.close()
  }
}
