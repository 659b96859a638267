package airbench

import graft.GraftSession
import graft.operators.Ckpt
import org.apache.spark.airbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}
import scala.collection.mutable

/** One benchmark run in a fresh JVM: session start, one cold pass, then
  * warm passes for `--seconds` over the inputs `run.py` synthesized under
  * `--work`. Writes `result.json`, `outputs.json` (the cold pass's
  * results) and, traced, `trace.json`; `run.py` checks the outputs and
  * prints the metrics.
  *
  * Usage: `airbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --cores C` */
object Main {
  final case class OpRec(pass: Int, id: String, wallS: Double, startMs: Long, endMs: Long,
                         releaseS: Double, leftover: Int, codegenN: Long, codegenS: Double,
                         spark: Option[OpSpark], error: Option[String])

  final case class PassRec(pass: Int, wallS: Double, ops: Seq[OpRec])

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  /** Row rendering that is stable across passes: doubles to 9 significant
    * digits, so summation order inside a pass cannot flip the digest. */
  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case o => o.toString
  }

  private def digest(o: Output): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(o.schema.simpleString.getBytes(UTF_8))
    o.rows.foreach(r => md.update((norm(r) + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jnum(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def jval(v: Any): String = v match {
    case null => "null"
    case d: Double => jnum(d)
    case f: Float => jnum(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    case s: scala.collection.Seq[_] => s.map(jval).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(jval).mkString("[", ",", "]")
    case o => jstr(o.toString)
  }

  /** The cold pass's outputs as one JSON document: name → columns, rows. */
  private def outputsJson(outs: Seq[Output]): String =
    outs.map { o =>
      s"${jstr(o.name)}:{\"columns\":${o.schema.fieldNames.map(jstr).mkString("[", ",", "]")}," +
        s"\"rows\":${o.rows.map(r => jval(r)).mkString("[", ",", "]")}}"
    }.mkString("{", ",\n", "}\n")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.byName(kv("workload"))
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val work = kv("work")
    val cores = kv("cores").toInt
    JFiles.createDirectories(Paths.get(work))

    // ── set-up: session start and a read of the inputs run.py wrote ────
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores = cores.toString, app = "airbench", periodicGC = "10h")
    val sessionS = secs(t0, System.nanoTime())
    Files.pretouch(s"$work/${workload.inputDir}")
    val inputBytes = Files.bytesUnder(s"$work/${workload.inputDir}")
    val jvmSetupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val s = spark

    val tracer = new Tracer
    if (trace) { sc.addSparkListener(tracer); s.listenerManager.register(tracer) }

    val coldDigests = mutable.Map[String, String]()
    val coldOutputs = mutable.ArrayBuffer[Output]()
    val mismatches = mutable.ArrayBuffer[String]()

    def runOp(pass: Int, op: Op): OpRec = {
      val group = s"pass$pass/${op.id}"
      sc.setJobGroup(group, op.id, interruptOnCancel = false)
      if (trace) tracer.begin(group)
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val c0 = CodeGenerator.compileTime
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = try Right(op.run(s)) catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      val codegenN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
      val codegenS = (CodeGenerator.compileTime - c0) / 1e9
      sc.clearJobGroup()
      // hygiene between ops, outside the timed region
      val r0 = System.nanoTime()
      Ckpt.release(s)
      val r1 = System.nanoTime()
      val keep = workload match {
        case e: EtlWorkload => e.cacheRdds
        case _ => Set.empty[Int]
      }
      val leftover = Bus.rddBlocks(sc).count(b => !keep.contains(b.rddId))
      System.gc()
      val sparkStats = if (trace) { Bus.drain(sc); Some(tracer.end(group)) } else None
      if (trace) tracer.addSpan(Span("op", op.id, m0, m1, s"pass$pass"))
      val error = out match {
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")
        case Right(outputs) =>
          val bad = outputs.flatMap { o =>
            val d = digest(o)
            coldDigests.get(o.name) match {
              case None =>
                coldDigests(o.name) = d
                coldOutputs += o
                None
              case Some(c) if c != d => Some(o.name)
              case _ => None
            }
          }
          if (bad.nonEmpty) { mismatches ++= bad.map(n => s"pass $pass: $n differs from the cold pass"); Some("output differs from the cold pass") }
          else None
      }
      OpRec(pass, op.id, secs(t0, t1), m0, m1, secs(r0, r1), leftover, codegenN, codegenS,
        sparkStats, error)
    }

    def runPass(pass: Int): PassRec = {
      val m0 = System.currentTimeMillis()
      val recs = workload.ops(work, seed, pass).map(op => runOp(pass, op))
      val m1 = System.currentTimeMillis()
      workload.endPass()
      if (trace) tracer.addSpan(Span("pass", s"pass$pass", m0, m1, workload.name))
      PassRec(pass, recs.map(_.wallS).sum, recs)
    }

    val runStartMs = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer[PassRec]()
    passes += runPass(0)
    System.err.println(f"[airbench] cold pass done at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    val minWarm = workload.minWarm
    val w0 = System.nanoTime()
    while (passes.size <= minWarm || (secs(w0, System.nanoTime()) < seconds && passes.size < 60)) {
      val p = passes.size
      passes += runPass(p)
    }
    val runEndMs = System.currentTimeMillis()
    System.err.println(f"[airbench] passes done at ${(runEndMs - jvmStartMs) / 1e3}%.1f s")
    if (trace) tracer.addSpan(Span("workload", workload.name, runStartMs, runEndMs, null))

    // retained heap after the last pass's release and GC
    Ckpt.release(s)
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // untimed checks that are not ops
    val checks = workload match {
      case e: EtlWorkload => e.checks(s, work, 200)
      case _ => Nil
    }
    val sinkBytes = workload match {
      case _: EtlWorkload => Files.bytesUnder(s"$work/out")
      case _ => 0L
    }

    System.err.println(f"[airbench] checks done at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    val warm = passes.toSeq.drop(1)
    val allOps = passes.flatMap(_.ops)
    val failedOps = allOps.filter(_.error.isDefined)
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    metrics("cold_pass_s") = (passes.head.wallS, "s")
    metrics("warm_pass_s") = (median(warm.map(_.wallS)), "s")
    metrics("retained_heap_mb") = (heapMb, "MB")

    val layers = mutable.LinkedHashMap[String, (Double, String)]()
    if (trace) {
      def perPass(f: PassRec => Double): Double = median(warm.map(f))
      def sumOps(p: PassRec)(f: (OpRec, OpSpark) => Double): Double =
        p.ops.flatMap(o => o.spark.map(sp => f(o, sp))).sum
      def maxOps(p: PassRec)(f: (OpRec, OpSpark) => Double): Double =
        (0.0 +: p.ops.flatMap(o => o.spark.map(sp => f(o, sp)))).max
      def gapS(o: OpRec, sp: OpSpark): Double =
        math.max(0.0, o.wallS - sp.jobUnionMs(o.startMs, o.endMs) / 1e3)

      layers("session.start_s") = (sessionS, "s")
      layers("setup.input_bytes") = (inputBytes.toDouble, "bytes")
      val opIds = passes.head.ops.map(_.id).distinct
      opIds.foreach { id =>
        layers(s"${id}_s") = (median(warm.flatMap(_.ops.filter(_.id == id).map(_.wallS))), "s")
      }
      def actionKind(funcName: String, readsSink: Boolean): String =
        if (funcName != "count") "write" else if (readsSink) "verify" else "count"
      def actions(p: PassRec, kind: String): Double =
        p.ops.filter(_.id == "pipeline.run").flatMap(_.spark.toSeq).flatMap(_.actions).collect {
          case (f, t, sink) if actionKind(f, sink) == kind => t
        }.sum
      if (workload.isInstanceOf[EtlWorkload]) {
        layers("pipeline.write_s") = (perPass(actions(_, "write")), "s")
        layers("pipeline.count_s") = (perPass(actions(_, "count")), "s")
        layers("pipeline.verify_s") = (perPass(actions(_, "verify")), "s")
        layers("pipeline.xlsx_driver_s") = (perPass(p =>
          sumOps(p)((o, sp) => if (o.id.startsWith("pipeline.xlsx_")) gapS(o, sp) else 0.0)), "s")
        layers("pipeline.sink_bytes") = (sinkBytes.toDouble, "bytes")
        layers("pipeline.sink_bytes_per_input_byte") = (sinkBytes.toDouble / math.max(1L, inputBytes), "ratio")
      }
      layers("ckpt.release_s") = (median(warm.map(_.ops.map(_.releaseS).sum)), "s")
      layers("ckpt.blocks_written") = (perPass(sumOps(_)((_, sp) => sp.blocksWritten.toDouble)), "count")
      layers("ckpt.bytes_written") = (perPass(sumOps(_)((_, sp) => sp.bytesWritten.toDouble)), "bytes")
      layers("ckpt.leftover_blocks") = (allOps.map(_.leftover).max.toDouble, "count")
      layers("dedup.cap_dropped_rows") = (perPass(sumOps(_)((_, sp) => sp.capDropped.toDouble)), "count")
      val cold = passes.head
      layers("spark.cold_planning_s") = (sumOps(cold)((_, sp) => sp.planningMs / 1e3), "s")
      layers("spark.cold_codegen_compiles") = (cold.ops.map(_.codegenN.toDouble).sum, "count")
      layers("spark.cold_codegen_compile_s") = (cold.ops.map(_.codegenS).sum, "s")
      layers("spark.planning_s") = (perPass(sumOps(_)((_, sp) => sp.planningMs / 1e3)), "s")
      layers("spark.codegen_compiles") = (perPass(_.ops.map(_.codegenN.toDouble).sum), "count")
      layers("spark.codegen_compile_s") = (perPass(_.ops.map(_.codegenS).sum), "s")
      layers("spark.jobs") = (perPass(sumOps(_)((_, sp) => sp.jobs.size.toDouble)), "count")
      layers("spark.stages") = (perPass(sumOps(_)((_, sp) => sp.stages.toDouble)), "count")
      layers("spark.tasks") = (perPass(sumOps(_)((_, sp) => sp.tasks.toDouble)), "count")
      layers("spark.jobs_s") = (perPass(sumOps(_)((o, sp) => sp.jobUnionMs(o.startMs, o.endMs) / 1e3)), "s")
      layers("spark.driver_gap_s") = (perPass(sumOps(_)(gapS)), "s")
      layers("spark.executor_cpu_s") = (perPass(sumOps(_)((_, sp) => sp.cpuNs / 1e9)), "s")
      layers("spark.executor_run_s") = (perPass(sumOps(_)((_, sp) => sp.runMs / 1e3)), "s")
      layers("spark.gc_s") = (perPass(sumOps(_)((_, sp) => sp.gcMs / 1e3)), "s")
      layers("spark.slot_util") = (perPass(p =>
        sumOps(p)((_, sp) => sp.runMs / 1e3) / math.max(1e-9, p.wallS * cores)), "ratio")
      layers("spark.task_skew") = (perPass(maxOps(_)((_, sp) => sp.taskSkew)), "ratio")
      layers("spark.shuffle_write_bytes") = (perPass(sumOps(_)((_, sp) => sp.shuffleWrite.toDouble)), "bytes")
      layers("spark.shuffle_read_bytes") = (perPass(sumOps(_)((_, sp) => sp.shuffleRead.toDouble)), "bytes")
      layers("spark.spill_bytes") = (perPass(sumOps(_)((_, sp) => sp.spill.toDouble)), "bytes")
      layers("spark.peak_exec_mem_bytes") = (perPass(maxOps(_)((_, sp) => sp.peakExecMem.toDouble)), "bytes")
      layers("spark.tasks_failed") = (passes.flatMap(_.ops).flatMap(_.spark).map(_.tasksFailed.toDouble).sum, "count")
      layers("spark.stages_retried") = (passes.flatMap(_.ops).flatMap(_.spark).map(_.stagesRetried.toDouble).sum, "count")
      layers("trace.warm_pass_s") = (median(warm.map(_.wallS)), "s")
      layers("checks.known_failing") = (checks.count(!_._2).toDouble, "count")
      JFiles.write(Paths.get(s"$work/trace.json"), tracer.spansJson.getBytes(UTF_8))
    }

    def mjson(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${jstr(k)}:{\"value\":${jnum(v)},\"unit\":${jstr(u)}}" }.mkString("{", ",", "}")
    val passJson = passes.map { p =>
      val ops = p.ops.map(o =>
        s"""{"id":${jstr(o.id)},"wall_s":${jnum(o.wallS)},"release_s":${jnum(o.releaseS)},"leftover_blocks":${o.leftover},"error":${o.error.map(jstr).getOrElse("null")}}""")
      s"""{"pass":${p.pass},"wall_s":${jnum(p.wallS)},"ops":${ops.mkString("[", ",", "]")}}"""
    }
    val checkJson = checks.map { case (n, ok, msg) => s"""{"name":${jstr(n)},"ok":$ok,"detail":${jstr(msg)}}""" }
    val json =
      s"""{"workload":${jstr(workload.name)},"seed":$seed,"cores":$cores,"trace":$trace,""" +
      s""""jvm_setup_s":${jnum(jvmSetupS)},"session_start_s":${jnum(sessionS)},"input_bytes":$inputBytes,""" +
      s""""attempted":${allOps.size},"failed_ops":${failedOps.map(o => jstr(s"pass ${o.pass}: ${o.id}: ${o.error.get}")).mkString("[", ",", "]")},""" +
      s""""mismatches":${mismatches.map(jstr).mkString("[", ",", "]")},""" +
      s""""outputs":${coldDigests.keys.toSeq.sorted.map(jstr).mkString("[", ",", "]")},""" +
      s""""checks":${checkJson.mkString("[", ",", "]")},""" +
      s""""oracles":${workload.oracles.toSeq.sorted.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")},""" +
      s""""metrics":${mjson(metrics)},"layers":${mjson(layers)},""" +
      s""""passes":${passJson.mkString("[", ",", "]")}}"""
    JFiles.write(Paths.get(s"$work/outputs.json"), outputsJson(coldOutputs.toSeq).getBytes(UTF_8))
    JFiles.write(Paths.get(s"$work/result.json"), (json + "\n").getBytes(UTF_8))
    System.err.println(f"[airbench] result written at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    spark.stop()
    System.err.println(f"[airbench] stopped at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    // Spark leaves non-daemon threads behind that hold the JVM for seconds
    System.exit(0)
  }
}
