package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.pipeline.{CurationPipeline, PublicationsPipeline}
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One operation of a pass: a registry query, a pipeline run or a
  * micro-batch. A thrown exception marks it failed; it is never timed as
  * a success.
  */
final case class OpRec(pass: Int, name: String, seconds: Double, error: Option[String])

/** An output check; a failed check marks its operation failed. */
final case class Check(name: String, op: String, ok: Boolean, detail: String)

/** What a workload's calls share: the session, the input layout, the
  * operation log and (in a traced run) the tracer.
  */
final class Ctx(val spark: SparkSession, val data: String) {
  var tracer: Option[Tracer] = None
  var pass = 0
  val ops = mutable.ArrayBuffer[OpRec]()

  def span[T](name: String, layer: String)(body: => T): T =
    tracer.fold(body)(_.span(name, layer)(body))

  def op(name: String, layer: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val err =
      try { span(name, layer)(body); None }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: $e")
          Some(e.toString.take(300))
      }
    ops += OpRec(pass, name, (System.nanoTime() - t0) / 1e9, err)
  }

  lazy val registry = SparkEntry.queries
  lazy val oracleSql = SparkEntry.oracleSql

  /** A registry query, built (`fn(spark, dir)`, which runs the operator's
    * eager jobs) and then fully materialized as a parquet write.
    */
  def registryOp(name: String, dir: String, data: String = data): Unit = {
    op(name, "operators") {
      val df = span(s"$name.build", "operators.build")(registry(name)(spark, data))
      span(s"$name.materialize", "operators.materialize")(
        df.write.mode("overwrite").parquet(s"$dir/$name"))
    }
    spark.catalog.clearCache()
  }
}

/** A benchmark workload: what one pass does, and how its last pass's
  * outputs are checked. Registry outputs are listed for the DuckDB
  * oracle compare, which runs outside the JVM.
  */
trait Workload {
  def pass(ctx: Ctx, dir: String): Unit
  def checks(ctx: Ctx, dir: String): Seq[Check] = Nil
  /** (registry name, operation, output path) for the oracle compare. */
  def oracleOutputs(dir: String): Seq[(String, String, String)] = Nil
  /** Per-stage pipeline seconds of the passes in `passes`, when the
    * pipeline reports them itself.
    */
  def stageSeconds(passes: Set[Int]): Map[String, Double] = Map.empty
}

object Workloads {
  val names = Seq("publications_etl", "graph_iterative", "text_curation", "event_stream")

  def apply(name: String, streamFiles: Option[String]): Workload = name match {
    case "publications_etl" => new PublicationsEtl
    case "graph_iterative" => new GraphIterative
    case "text_curation" => new TextCuration
    case "event_stream" =>
      new EventStream(streamFiles.getOrElse(
        throw new IllegalArgumentException("event_stream needs --stream-files")))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def zeroCheck(manifest: Map[String, Long], key: String, op: String): Check = {
    val v = manifest.get(key)
    Check(key, op, v.contains(0L), s"$key = ${v.getOrElse("missing")}")
  }
}

/** The paper's own DAG: staged pipeline run, then the warehouse MERGE
  * twice (the second is an idempotent re-run).
  */
final class PublicationsEtl extends Workload {
  private var manifest = Map.empty[String, Long]
  private var upserts = Seq.empty[Map[String, Long]]

  def pass(ctx: Ctx, dir: String): Unit = {
    manifest = Map.empty
    upserts = Nil
    ctx.op("publications.runAll", "pipeline") {
      manifest = PublicationsPipeline.runAll(ctx.spark, ctx.data, s"$dir/pipeline")
    }
    for (i <- 1 to 2) ctx.op(s"publications.upsertWarehouse.$i", "sources") {
      upserts :+= PublicationsPipeline.upsertWarehouse(ctx.spark, ctx.data, s"$dir/warehouse")
    }
  }

  /** The orphan check is 0, the re-run MERGE changes nothing, and the
    * merged fact table holds one row per (order_key, line_number) key of
    * the staged fact table (a MERGE keeps one row per key).
    */
  override def checks(ctx: Ctx, dir: String): Seq[Check] = {
    val idem = upserts.size == 2 && upserts.head == upserts(1)
    val merged = upserts.headOption.flatMap(_.get("wh_fact_sales"))
    val keys = ctx.spark.read.parquet(s"$dir/pipeline/stage4_fact_sales")
      .select("order_key", "line_number").distinct().count()
    Seq(
      Workloads.zeroCheck(manifest, "check_orphan_fact_rows", "publications.runAll"),
      Check("upsert_idempotent", "publications.upsertWarehouse.2", idem,
        s"upserts: $upserts"),
      Check("warehouse_fact_keys", "publications.upsertWarehouse.1",
        merged.contains(keys), s"wh_fact_sales=$merged distinct staged keys=$keys"))
  }

  /** Staged marts that are registry queries. */
  private val staged = Seq(
    "stage3_enriched_orders" -> "enrich_join",
    "stage4_fact_sales" -> "dwh_fact_sales",
    "stage4_dim_customer" -> "dwh_dim_customer",
    "stage4_bridge_author" -> "dwh_bridge_author",
    "stage4_dim_references" -> "dwh_dim_references",
    "stage5_collab_graph" -> "collab_pairs",
    "stage6_trends" -> "trends_over_time",
    "stage6_topic_popularity" -> "topic_popularity",
    "stage6_graph_degree" -> "graph_degree",
    "stage6_author_specialization" -> "author_specialization",
    "stage6_institution_collab" -> "institution_collab")

  override def oracleOutputs(dir: String): Seq[(String, String, String)] =
    staged.map { case (stage, q) => (q, "publications.runAll", s"$dir/pipeline/$stage") }
}

/** Iterative graph operators: per-round jobs over a small graph. */
final class GraphIterative extends Workload {
  private val queries = Seq("pagerank", "label_propagation", "ppr_seeds")

  def pass(ctx: Ctx, dir: String): Unit = queries.foreach(ctx.registryOp(_, dir))

  override def oracleOutputs(dir: String): Seq[(String, String, String)] =
    queries.map(q => (q, q, s"$dir/$q"))
}

/** The curation pipeline plus two text operators: expression-heavy CPU
  * over one-file input.
  */
final class TextCuration extends Workload {
  private val queries = Seq("ngram_novelty", "tokenizer_compare")
  private val manifests = mutable.ArrayBuffer[(Int, Map[String, Long])]()

  def pass(ctx: Ctx, dir: String): Unit = {
    ctx.op("curation.runAll", "pipeline") {
      manifests += ctx.pass -> CurationPipeline.runAll(ctx.spark, ctx.data, s"$dir/curation")
    }
    queries.foreach(ctx.registryOp(_, dir))
  }

  override def checks(ctx: Ctx, dir: String): Seq[Check] = {
    val last = manifests.lastOption.filter(_._1 == ctx.pass).map(_._2).getOrElse(Map.empty)
    Seq("check_packed_rows_match", "check_token_reconciliation",
      "check_exemplars_in_corpus").map(Workloads.zeroCheck(last, _, "curation.runAll"))
  }

  override def oracleOutputs(dir: String): Seq[(String, String, String)] =
    queries.map(q => (q, q, s"$dir/$q"))

  override def stageSeconds(passes: Set[Int]): Map[String, Double] =
    manifests.filter(m => passes(m._1)).flatMap(_._2.collect {
      case (k, ms) if k.endsWith("_millis") => k.stripSuffix("_millis") -> ms / 1000.0
    }).groupMapReduce(_._1)(_._2)(_ + _)
}

/** Closed-loop stream: each time-split events file lands only after all
  * three standing queries have committed the previous one.
  */
final class EventStream(filesDir: String) extends Workload {
  private val files: Seq[Path] = {
    val s = Files.list(Paths.get(filesDir))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    finally s.close()
  }
  require(files.size >= 2, s"event_stream needs at least two files in $filesDir")

  private var sinks = Seq.empty[String]
  private var landing = ""

  /** Micro-batch latencies of the given passes (batch 0, which also
    * starts the queries, is not a sample).
    */
  val latencies = mutable.ArrayBuffer[(Int, Double)]()

  private def shape(raw: DataFrame): DataFrame =
    graft.Tables.normalizeEventTs(raw)
      .select(col("event_id"), timestamp_micros(expr("ts div 1000")).as("ts"),
        col("user_id"), col("event_type"), col("value"))

  private val LogOffset = """"logOffset"\s*:\s*(\d+)""".r

  /** Index of the last landed file a query has committed (-1 if none):
    * the file source's log offset advances by one per file here, while
    * batch ids also count the no-data batches that evict state.
    */
  private def committed(q: StreamingQuery): Long = {
    q.exception.foreach(e => throw e)
    q.recentProgress.iterator.flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset)).flatMap(LogOffset.findFirstMatchIn(_))
      .map(_.group(1).toLong).maxOption.getOrElse(-1L)
  }

  private def await(qs: Seq[StreamingQuery], batch: Int): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!qs.forall(committed(_) >= batch)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"micro-batch $batch not committed in 120 s")
      Thread.sleep(1)
    }
  }

  def pass(ctx: Ctx, dir: String): Unit = {
    landing = s"$dir/landing"
    val staging = Files.createDirectories(Paths.get(s"$dir/staging"))
    Files.createDirectories(Paths.get(landing))
    def land(f: Path): Unit = {
      val tmp = staging.resolve(f.getFileName)
      Files.copy(f, tmp)
      Files.move(tmp, Paths.get(landing).resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    val spark = ctx.spark
    land(files.head)
    sinks = Seq("attribution", "dedup", "window").map(n => s"${n}_p${ctx.pass}")
    var qs = Seq.empty[StreamingQuery]
    try {
      ctx.op("stream.batch.0", "streaming") {
        val events = shape(EventStreams.fromParquetDir(spark, landing))
        def start(df: DataFrame, sink: String, mode: String) =
          df.writeStream.format("memory").queryName(sink).outputMode(mode)
            .option("checkpointLocation", s"$dir/checkpoints/$sink").start()
        qs = Seq(
          start(EventStreams.attributionOuter(events), sinks(0), "append"),
          start(EventStreams.dedupedStream(events), sinks(1), "append"),
          start(EventStreams.windowedAgg(events), sinks(2), "complete"))
        await(qs, 0)
      }
      files.tail.zipWithIndex.foreach { case (f, i) =>
        val t0 = System.nanoTime()
        ctx.op("stream.batch", "streaming") {
          land(f)
          await(qs, i + 1)
          // The flush file advances both watermarks; the outer join emits
          // its expired purchases in the no-data batch that follows.
          if (i == files.size - 2) qs.foreach(_.processAllAvailable())
        }
        latencies += ctx.pass -> (System.nanoTime() - t0) / 1e9
      }
    } finally qs.foreach(_.stop())
  }

  /** Final state of each standing query equals its batch twin: the same
    * graft function over the bounded input (for the dedup, which Spark
    * runs on streams only, a plain dropDuplicates). The last file is the flush
    * (one far-future click and purchase of users that do not exist),
    * which the outer join's batch twin leaves out: nothing can expire
    * the flush purchase, so the stream never emits it.
    */
  override def checks(ctx: Ctx, dir: String): Seq[Check] = {
    val spark = ctx.spark
    val all = shape(spark.read.parquet(landing))
    // Row multisets, compared on the driver (the outputs are small).
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toString)
      .groupMapReduce(identity)(_ => 1)(_ + _)
    def same(name: String, got: DataFrame, want: DataFrame): Check = {
      val (g, w) = (rows(got), rows(want))
      Check(s"${name}_equals_batch_twin", "stream.batch", g == w && w.nonEmpty,
        s"stream rows=${g.values.sum} batch rows=${w.values.sum}")
    }
    Seq(
      same("attribution_outer", spark.table(sinks(0)),
        EventStreams.attributionOuter(all.filter(col("event_id") >= 0))),
      same("deduped_stream", spark.table(sinks(1)), all.dropDuplicates("event_id")),
      same("windowed_agg", spark.table(sinks(2)), EventStreams.windowedAgg(all)))
  }
}
