package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkEntry

/** Output checks, all outside the timed regions. */
object Checks {

  /** Canonical text of a value: doubles to 9 significant digits (the
    * engine may reorder a floating-point fold), |x| < 1e-9 as 0. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else {
      val scale = math.pow(10, 8 - math.floor(math.log10(math.abs(d))))
      java.lang.Double.toString(math.rint(d * scale) / scale)
    }

  /** Row-order-sensitive digest of a collected result: md5 over the
    * canonical rows in output order, plus the row count. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((canon(r) + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString + ":" + rows.length
  }

  private var expected: Map[String, String] = _

  /** `name digest` lines of the stored expected digests. */
  def load(path: String): Map[String, String] =
    if (path.isEmpty || !JFiles.exists(Paths.get(path))) Map.empty
    else JFiles.readAllLines(Paths.get(path), UTF_8).toArray.toSeq
      .map(_.toString.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map(a => a(0) -> a(1)).toMap

  def queryOk(ctx: Ctx, query: String, df: DataFrame): Boolean = {
    if (expected == null) expected = load(ctx.conf.expected)
    val got = digest(df.collect())
    expected.get(query) match {
      case Some(want) if want == got => true
      case want =>
        ctx.log(s"$query output digest $got != expected ${want.getOrElse("(none)")}")
        false
    }
  }

  /** Same rows up to row order (sorted by their canonical text) with
    * doubles compared to 1e-9 relative. */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean = {
    def close(x: Any, y: Any): Boolean = (x, y) match {
      case (p: Double, q: Double) =>
        p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
      case _ => x == y
    }
    val sa = a.sortBy(r => canon(r.get(0)))
    val sb = b.sortBy(r => canon(r.get(0)))
    sa.length == sb.length && sa.zip(sb).forall { case (r, s) =>
      r.length == s.length && (0 until r.length).forall(i => close(r.get(i), s.get(i)))
    }
  }

  /** Cross-check material: every benchmark query's output as parquet
    * (for the DuckDB oracle), the oracle SQL, and each output digest. */
  def dump(conf: Main.Conf, out: String): Unit = {
    val spark = Main.session(conf)
    val lines = Workloads.queries.flatMap(_.queries).map { case (q, scale) =>
      val df = SparkEntry.queries(q)(spark, s"${conf.data}/$scale")
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$scale/$q")
      s"$q ${digest(df.collect())} $scale"
    }
    JFiles.write(Paths.get(s"$out/digests.txt"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = Workloads.queries.flatMap(_.queries.map(_._1)).toSet
    val json = SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}")
    JFiles.write(Paths.get(s"$out/oracle_sql.json"), json.getBytes(UTF_8))
  }
}
