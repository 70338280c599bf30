package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graft.Bridge
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Optimization-round measurement harness (guide §1): for each named
  * query, run once as warm-up, then run timed with a stage listener and
  * print a per-stage breakdown (duration, task count, shuffle
  * read/write, records, spill) plus the formatted physical plan. The
  * plan text can be dumped to a file via `SPARK_GRAFT_PLAN_DIR` with a
  * `SPARK_GRAFT_PLAN_SUFFIX` (e.g. `_before` / `_after`), which is how
  * the committed `plans/r20` evidence files are produced — this main
  * measures, it never changes what a query computes.
  *
  * Usage: runMain graft.Profile <q1,q2,...> [sfDir]
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_PLAN_DIR,
  * SPARK_GRAFT_PLAN_SUFFIX, SPARK_GRAFT_PROFILE_REPS (default 2; rep 2
  * — the first steady-state rep — is reported per stage, every rep's
  * wall time prints). A query that fails in a timed rep is reported and
  * the next query runs.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val builder = SparkEntry.sessionBuilder(cpus)
    // A/B experiment hook: "key=value;key=value" extra session confs
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';')
      .map(_.trim).filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm-up at the smallest SF so codegen/broadcast init is off-ledger
      if (new java.io.File(warmDir).isDirectory)
        try fn(spark, warmDir).write.mode("overwrite").format("noop").save()
        catch { case NonFatal(e) =>
          // r20 ADVICE: a query broken at small scale should say so
          // here, not surface later as confusing timed numbers (and a
          // fatal error — OOM etc. — must not be swallowed at all)
          println(s"[profile] warm-up of $name failed: ${e.getMessage}")
        }
      case class St(id: Int, nm: String, ms: Long, tasks: Int,
        shufReadMB: Double, shufWriteMB: Double, inRec: Long,
        outRows: Long, spillMB: Double)
      val stages = ArrayBuffer.empty[St]
      val listener = new SparkListener {
        override def onStageCompleted(
            sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          stages += St(si.stageId, si.name.takeWhile(_ != '\n').take(60),
            si.completionTime.getOrElse(0L) -
              si.submissionTime.getOrElse(0L),
            si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.recordsRead,
            m.shuffleWriteMetrics.recordsWritten,
            m.memoryBytesSpilled / 1e6)
        }
      }
      println(s"==== $name ====")
      def timedRep(r: Int): Unit = {
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"  rep$r%d wall: $dt%8.3f s")
      }
      val sc = spark.sparkContext
      try {
        val df = fn(spark, sfDir)
        planDir.foreach { d =>
          new java.io.File(d).mkdirs()
          val w = new java.io.PrintWriter(
            new java.io.File(s"$d/$name$planSuffix.txt"), "UTF-8")
          try w.println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          finally w.close()
        }
        // The listener sees rep 2 ONLY, and the bus is drained before it
        // is removed so none of that rep's stage events are lost.
        (1 to reps).foreach { r =>
          if (r == 2) {
            sc.addSparkListener(listener)
            try timedRep(r)
            finally { Bridge.waitUntilEmpty(sc); sc.removeSparkListener(listener) }
          } else timedRep(r)
        }
      } catch { case NonFatal(e) =>
        println(s"[profile] $name failed: ${e.getMessage}")
      }
      println(
        "  stageId     ms tasks  shufRdMB  shufWrMB     inRec    wrRec  spillMB  name")
      stages.sortBy(-_.ms).take(25).foreach { s =>
        println(f"  ${s.id}%7d ${s.ms}%6d ${s.tasks}%5d ${s.shufReadMB}%9.2f ${s.shufWriteMB}%9.2f ${s.inRec}%9d ${s.outRows}%8d ${s.spillMB}%8.1f  ${s.nm}")
      }
      stages.clear()
    }
    spark.stop()
  }
}
