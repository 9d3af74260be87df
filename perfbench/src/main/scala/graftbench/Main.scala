package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark run of one workload in this JVM: set the session up
  * cold, run timed passes until `--seconds` have elapsed (at least one;
  * the first is the process's first call into graft), check the last
  * pass's outputs and write `result.json` into `--out`. With `--trace 1`
  * two more passes follow, an untraced one and a traced one, so their
  * difference is the tracing overhead; the per-layer metrics come from
  * the traced pass only.
  *
  * Arguments (all required except the flags):
  *   --workload <name> --data <dir> --out <dir> --seconds <n>
  *   --trace <0|1> --cores <n> --t0-us <epoch µs of process launch>
  *   [--stream-files <dir>] [--inject-failure]
  */
object Main {
  final case class Opts(workload: String, data: String, out: String,
      seconds: Int, trace: Boolean, cores: Int, t0Us: Long,
      streamFiles: Option[String], injectFailure: Boolean)

  def parse(args: Array[String]): Opts = {
    val flags = Set("--inject-failure")
    val kv = mutable.LinkedHashMap[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (flags(a)) { kv(a) = "true"; i += 1 }
      else {
        require(a.startsWith("--") && i + 1 < args.length, s"bad argument: $a")
        kv(a) = args(i + 1); i += 2
      }
    }
    val known = Set("--workload", "--data", "--out", "--seconds", "--trace",
      "--cores", "--t0-us", "--stream-files") ++ flags
    val unknown = kv.keySet.diff(known)
    require(unknown.isEmpty, s"unknown arguments: ${unknown.mkString(", ")}")
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val o = Opts(get("--workload"), get("--data"), get("--out"), get("--seconds").toInt,
      get("--trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      get("--cores").toInt, get("--t0-us").toLong, kv.get("--stream-files"),
      kv.contains("--inject-failure"))
    require(Workloads.names.contains(o.workload), s"unknown workload: ${o.workload}")
    require(o.seconds > 0 && o.cores > 0, "--seconds and --cores must be positive")
    o
  }

  private def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** The settings every graft main shares; everything else is Spark's
    * default.
    */
  def buildSession(cores: Int): SparkSession =
    SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()

  def warm(spark: SparkSession): Unit =
    spark.range(1000).selectExpr("sum(id)").collect()

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** role: "timed" (end-to-end metrics), "baseline" or "traced". */
  final case class PassRec(index: Int, role: String, wallS: Double, cpuS: Double,
      startMs: Double, endMs: Double)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload = Workloads(o.workload, o.streamFiles)

    // Set-up, cold: process launch -> session built -> first trivial job
    // done. A later session in the same JVM would reuse loaded and
    // compiled classes, so one cold start per run is the sample.
    val tMain = nowUs
    val spark = buildSession(o.cores)
    spark.sparkContext.setLogLevel("WARN")
    val tWarm = nowUs
    warm(spark)
    val tDone = nowUs
    val setupS = (tDone - o.t0Us) / 1e6
    val (jvmS, buildS, warmS) =
      ((tMain - o.t0Us) / 1e6, (tWarm - tMain) / 1e6, (tDone - tWarm) / 1e6)

    val ctx = new Ctx(spark, o.data)
    val out = Paths.get(o.out)
    Files.createDirectories(out)
    val passes = mutable.ArrayBuffer[PassRec]()
    var lastDir = out
    def runPass(role: String): PassRec = {
      ctx.pass += 1
      val dir = out.resolve(s"pass${ctx.pass}")
      val wall0 = System.nanoTime()
      val cpu0 = cpuNs
      val startMs = System.currentTimeMillis().toDouble
      ctx.span(s"pass${ctx.pass}", "pass") {
        workload.pass(ctx, dir.toString)
        if (o.injectFailure)
          ctx.registryOp("pagerank", dir.toString, data = s"${o.data}/no-such-layout")
      }
      val rec = PassRec(ctx.pass, role, (System.nanoTime() - wall0) / 1e9,
        (cpuNs - cpu0) / 1e9, startMs, System.currentTimeMillis().toDouble)
      if (lastDir != out) rmTree(lastDir)
      lastDir = dir
      rec
    }
    val t0 = System.nanoTime()
    do passes += runPass("timed")
    while (System.nanoTime() - t0 < o.seconds * 1000000000L)
    val rssMb = peakRssMb

    // Context probes of the traced run, never gated: fixed CPU work and
    // a parquet scan, each timed on its second execution.
    def probe(body: => Unit): Double = {
      body
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def cpuProbe() = probe(spark.range(10L * 1000 * 1000).selectExpr("sum(id * 3 % 7)").collect())
    def scanProbe() = probe(spark.read.parquet(s"${o.data}/lineitem.parquet")
      .selectExpr("sum(l_extendedprice)", "count(distinct l_orderkey)").collect())

    var layers = Map.empty[String, Double]
    if (o.trace) {
      val (cpuProbeS, scanProbeS) = (cpuProbe(), scanProbe())
      val baseline = runPass("baseline")
      passes += baseline
      val tracer = new Tracer(spark)
      ctx.tracer = Some(tracer)
      val gc0 = gcMs
      val jit0 = jitMs
      val traced = runPass("traced")
      val gcS = (gcMs - gc0) / 1e3
      val jit = (jitMs - jit0).toDouble
      tracer.close()
      ctx.tracer = None
      passes += traced
      layers = Layers.compute(tracer, workload, traced, baseline, o.cores) ++ Map(
        "session.jvm_s" -> jvmS, "session.build_s" -> buildS, "session.warm_s" -> warmS,
        "jvm.gc_s" -> gcS, "jvm.jit_ms" -> jit,
        "jvm.heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "env.cpu_probe_s" -> cpuProbeS, "env.scan_probe_s" -> scanProbeS,
        "env.probe_s" -> (cpuProbeS + scanProbeS))
      tracer.writeSpans(out.resolve("spans.jsonl"))
    }

    // Output checks, outside every timed region.
    val checks =
      try workload.checks(ctx, lastDir.toString)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] checks FAILED: $e")
          Seq(Check("checks_ran", ctx.ops.last.name, ok = false, e.toString.take(300)))
      }
    val oracle = workload.oracleOutputs(lastDir.toString).map { case (q, op, path) =>
      q -> Map("op" -> op, "path" -> path, "sql" -> ctx.oracleSql.getOrElse(q, ""))
    }.toMap
    val latencies = workload match {
      case s: EventStream =>
        s.latencies.filter(l => passes.exists(p => p.index == l._1 && p.role == "timed")).map(_._2)
      case _ => Seq.empty
    }

    val result = Map(
      "workload" -> o.workload,
      "cores" -> o.cores,
      "conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "setup" -> Map("setup_s" -> setupS, "jvm_s" -> jvmS, "build_s" -> buildS,
        "warm_s" -> warmS),
      "passes" -> passes.map(p => Map("index" -> p.index, "role" -> p.role,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS)),
      "ops" -> ctx.ops.map(r => Map("pass" -> r.pass, "name" -> r.name,
        "seconds" -> r.seconds, "error" -> r.error)),
      "batch_latencies_s" -> latencies,
      "checks" -> checks.map(c => Map("name" -> c.name, "op" -> c.op, "ok" -> c.ok,
        "detail" -> c.detail)),
      "oracle" -> oracle,
      "peak_rss_mb" -> rssMb,
      "layers" -> layers)
    Files.writeString(out.resolve("result.json"), Serialization.write(result)(DefaultFormats))
    spark.stop()
  }
}
