package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.ext.{IncrementalIndex, RollupState, RollupStateKll, TextOps}
import graft.ops.Ops
import graft.sources.{DataStore, ParquetStore}

/** The benchmark's JVM side: one closed-loop client running one
  * workload in a fresh SparkSession configured like `graft.Bench`.
  *
  * Run: set-up (session start plus two warm-up passes at the target
  * size, the first of which checks every output), then timed passes
  * until `--seconds` have elapsed (three at least), then the live heap
  * after a full GC. With `--trace 1`
  * traced and untraced passes alternate; the traced ones record spans
  * and Spark job counters, the untraced ones give the tracing overhead.
  *
  * The last stdout line is the JSON summary; the full record (metrics,
  * per-pass counters, spans) is also written to `--record`. */
object Main {

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, inputs: String, expected: String, record: String,
      tmp: String, cpus: Int, dump: Option[String])

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Conf(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("data"), m.getOrElse("inputs", ""), m.getOrElse("expected", ""),
      m.getOrElse("record", ""), m("tmp"), m("cpus").toInt, m.get("dump"))
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(SparkEntry.NanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${c.tmp}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.tmp}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    conf.dump match {
      case Some(out) => Checks.dump(conf, out)
      case None =>
        val result = new Runner(conf).run()
        Report.emit(conf, result)
    }
    SparkSession.getDefaultSession.foreach(_.stop())
  }
}

/** One operation's timed region. */
final case class OpTime(name: String, seconds: Double, ok: Boolean,
    gcNs: Long)

/** One pass: its operations, their summed time, the pass-level extras
  * (ingest read-back, state size, plan phases …) and the root span of
  * the pass when it was traced. */
final case class PassResult(ops: Seq[OpTime], total: Double,
    failedChecks: Int, extra: Map[String, Double], rootSpan: Option[Int])

/** What a workload does in one pass. */
trait Workload {
  def name: String
  def pass(ctx: Ctx, rng: scala.util.Random, passNo: Int, check: Boolean): PassResult
}

final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val conf: Main.Conf) {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def gcNanos(): Long = gcBeans.map(_.getCollectionTime).sum * 1000000L

  def storedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Run one timed operation: GC first (outside the timed region, like
    * `graft.Bench`), then time `body`; a throw fails the operation and
    * the pass carries on. */
  def op(name: String)(body: => Boolean): OpTime = {
    System.gc()
    val gc0 = gcNanos()
    val t0 = System.nanoTime()
    val ok =
      try tracer.span(name, "op")(body)
      catch {
        case e: Throwable =>
          log(s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
    val t1 = System.nanoTime()
    OpTime(name, (t1 - t0) / 1e9, ok, gcNanos() - gc0)
  }
}

/** A query workload: every listed `SparkEntry.queries` function, each on
  * the fixtures of its scale, once per pass, in an order drawn from the
  * seed. A timed operation is the
  * query-function call plus the noop write (`graft.Bench`'s region);
  * traced, `executedPlan` is forced between the two so planning is a
  * span of its own. The checking (warm-up) pass collects each output
  * instead of the noop write and compares its digest with the stored
  * one. */
final class QueryWorkload(val name: String,
    val queries: Seq[(String, String)]) extends Workload {

  def pass(ctx: Ctx, rng: scala.util.Random, passNo: Int,
      check: Boolean): PassResult = {
    val tr = ctx.tracer
    val extra = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val order = rng.shuffle(queries)
    val root = if (tr.enabled) Some(tr.nextSpanId) else None
    val ops = tr.span(s"pass$passNo", "pass") {
      order.map { case (q, scale) =>
        ctx.op(q) {
          val before = if (tr.enabled) ctx.storedBytes() else 0L
          val df = tr.span("build", "entry")(
            SparkEntry.queries(q)(ctx.spark, s"${ctx.conf.data}/$scale"))
          if (tr.enabled)
            extra("entry.pinned_bytes") += math.max(0L, ctx.storedBytes() - before)
          if (check) Checks.queryOk(ctx, q, df)
          else {
            if (tr.enabled) {
              tr.span("plan", "plan")(df.queryExecution.executedPlan)
              df.queryExecution.tracker.phases.foreach { case (phase, s) =>
                extra(s"plan.${phase}_s") += s.durationMs / 1e3
              }
            }
            tr.span("exec", "exec") {
              df.write.mode("overwrite").format("noop").save()
            }
            true
          }
        }
      }
    }
    PassResult(ops, ops.map(_.seconds).sum, 0, extra.toMap, root)
  }
}

/** Times every call into the wrapped store; traced, also counts the
  * files and bytes each write leaves behind. */
final class TimingStore(inner: ParquetStore, tracer: Tracer,
    extra: mutable.Map[String, Double]) extends DataStore {
  def spark: SparkSession = inner.spark
  def objectNames: Seq[String] = inner.objectNames
  override def exists(name: String): Boolean = inner.exists(name)
  def getObject(name: String): DataFrame =
    tracer.span("store.getObject", "sources")(inner.getObject(name))
  def create(name: String, from: DataFrame, replace: Boolean): Unit =
    write("store.create")(inner.create(name, from, replace))
  def appendInto(name: String, rows: DataFrame): Unit =
    write("store.appendInto")(inner.appendInto(name, rows))

  private def write(call: String)(body: => Unit): Unit =
    if (!tracer.enabled) body
    else {
      val before = Files.dataFiles(inner.dir)
      tracer.span(call, "sources")(body)
      val added = Files.dataFiles(inner.dir) -- before.keySet
      extra("sources.files_written") += added.size
      extra("sources.bytes_written") += added.values.sum
    }
}

object Files {
  /** Parquet data files under `dir` with their sizes. */
  def dataFiles(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length).toMap
  }

  /** Bytes of every file under `dir`. */
  def bytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else f.length
    walk(new File(dir))
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** The write path: micro-batches committed through the public state API
  * against a `ParquetStore`. A pass starts from an empty store: both
  * rollups are created empty and the set-similarity index from the
  * corpus (the first fifth of `documents`); one timed operation commits
  * one batch (`RollupState.fold`, `RollupStateKll.fold`,
  * `IncrementalIndex.ingest`); the read-back follows the loop. Every
  * pass checks its own result. The batches were cut from the fixtures
  * by the seed (see `inputs.py`). */
final class IngestWorkload extends Workload {
  val name = "ingest"
  val keys = Seq("event_type")
  val measures = Seq("value" -> "sum", "value" -> "average",
    "value" -> "min", "value" -> "max", "value" -> "count", "user_id" -> "sum")
  /** Ids at or above this mark re-deliver document `id % Redelivered`. */
  val Redelivered = 1000000L

  def pass(ctx: Ctx, rng: scala.util.Random, passNo: Int,
      check: Boolean): PassResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val in = ctx.conf.inputs
    val nBatches = new File(in).list().count(_.startsWith("events_"))
    def events(b: Int) = SparkEntry.table(spark, in, s"events_$b")
    def docs(name: String) = SparkEntry.table(spark, in, name)
      .withColumn("toks", TextOps.shingles(col("text"), 3))
    val extra = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val storeDir = s"${ctx.conf.tmp}/store"
    Files.delete(new File(storeDir))
    val store = new TimingStore(ParquetStore(spark, storeDir), tr, extra)
    val rollup = RollupState(store, "rollup", keys, measures)
    val kll = RollupStateKll(store, "kll", keys, Seq("value"))
    val index = IncrementalIndex.setSimilarity(store, "index",
      "doc_id", "toks", threshold = 0.5)
    var failedChecks = 0
    def fail(msg: String): Unit = {
      ctx.log(s"ingest check failed: $msg"); failedChecks += 1
    }
    val root = if (tr.enabled) Some(tr.nextSpanId) else None
    var createS, readS = 0.0
    val ops = tr.span(s"pass$passNo", "pass") {
      val t0 = System.nanoTime()
      tr.span("create", "state") {
        rollup.create(events(0).limit(0))
        kll.create(events(0).limit(0))
        index.create(docs("corpus"))
      }
      createS = (System.nanoTime() - t0) / 1e9
      var indexRows = spark.read.parquet(s"$in/corpus.parquet").count()
      val corpusRows = indexRows
      var kept, offered = 0L
      val indexed = mutable.Set.empty[Long] ++
        spark.read.parquet(s"$in/corpus.parquet").select("doc_id")
          .collect().map(_.getLong(0))
      val ops = (0 until nBatches).map { b =>
        var survivors: DataFrame = null
        val op = ctx.op(s"batch$b") {
          tr.span("fold", "state")(rollup.fold(events(b)))
          tr.span("kll_fold", "state")(kll.fold(events(b)))
          survivors = tr.span("ingest", "state")(index.ingest(docs(s"docs_$b")))
          true
        }
        if (op.ok) {
          val batchIds = spark.read.parquet(s"$in/docs_$b.parquet")
            .select("doc_id").collect().map(_.getLong(0))
          val ids = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
          batchIds.filter(_ >= Redelivered)
            .filter(id => indexed(id % Redelivered) && ids(id))
            .foreach(id => fail(s"re-delivered document $id was kept"))
          extra("index_rows_before") += indexRows
          extra("batch_rows") += batchIds.length
          indexed ++= ids
          indexRows += ids.size
          kept += ids.size
          offered += batchIds.length
        }
        op
      }
      val t1 = System.nanoTime()
      val (rolled, _, indexCount) = tr.span("read", "state") {
        (rollup.result().collect(), kll.result(Seq(0.5, 0.9)).collect(),
          index.load().count())
      }
      readS = (System.nanoTime() - t1) / 1e9
      if (ops.forall(_.ok)) {
        val delivered = (0 until nBatches).map(events).reduce(_ unionByName _)
        val direct = Ops.aggregate(keys, measures)(delivered).collect()
        if (!Checks.sameRows(rolled, direct))
          fail("rollup differs from Ops.aggregate over the delivered batches")
        if (indexCount != corpusRows + kept)
          fail(s"index rows $indexCount != corpus $corpusRows + survivors $kept")
      }
      extra("state.rows_kept_frac") = if (offered > 0) kept.toDouble / offered else 0.0
      val inputBytes = Files.bytes(in)
      extra("sources.state_bytes_per_input_byte") =
        Files.bytes(storeDir).toDouble / inputBytes
      extra("state.read_s") = readS
      ops
    }
    PassResult(ops, createS + ops.map(_.seconds).sum + readS, failedChecks,
      extra.toMap, root)
  }
}

object Workloads {
  /** Catalog operators whose time is in execution and scans (aggregate,
    * join, sort, percentile, window), and the rolling Pearson that runs
    * most of its work in an eager pin before a plan exists. Two fast,
    * two middle and two slow operations: the median latency falls
    * inside a group, not on the edge between two. */
  val catalog: Seq[(String, String)] = Seq(
    "aggregate_flagship", "sort_multi", "join_details_large",
    "percentile_price", "running_sum").map(_ -> "sf0.01") :+
    ("rolling_corr" -> "sf0.001")

  val queries: Seq[QueryWorkload] = Seq(new QueryWorkload("catalog", catalog))

  def apply(name: String): Workload =
    if (name == "ingest") new IngestWorkload
    else queries.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name'"))
}
