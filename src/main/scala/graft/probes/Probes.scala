package graft.probes

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Data-quality probing — a headline feature of the reference (its README
  * bills itself for "data quality probing"; SURVEY.md §2.10). Audit and
  * duplicate statistics return DataFrames; assertions throw
  * [[ProbeAssertionError]] so a pipeline fails fast.
  */
final class ProbeAssertionError(msg: String) extends RuntimeException(msg)

object Probes {

  /** Per-field quality statistics (reference: `ops/rows.py::audit`): for
    * each audited field — record count, null count & ratio, empty-string
    * count (string fields only), and exact distinct count, reported only
    * when it does not exceed `distinctThreshold` (the reference caps the
    * distinct scan the same way; NULL means "above threshold").
    *
    * Implementation: ONE aggregation pass computes every stat for every
    * field (the multi-count-distinct plans via Catalyst's Expand — an
    * O(fields) row multiplier on the map side but still a single shuffle
    * of partial aggregates, so it scales to arbitrary row counts), then a
    * local inline() reshapes the single result row to long format. */
  def audit(fields: Seq[String], distinctThreshold: Long = 1000000L)(
      df: DataFrame): DataFrame =
    auditStats(fields,
      distinctAgg = countDistinct(_),
      distinctFinal = f =>
        when(col(s"__distinct_$f") <= distinctThreshold, col(s"__distinct_$f")),
      distinctColName = "distinct_count")(df)

  /** Shared audit skeleton: one aggregation pass over every field, then
    * a local inline() reshape to long format. The distinct-count
    * strategy is the only thing [[audit]] and [[auditApprox]] differ
    * in. */
  private def auditStats(
      fields: Seq[String],
      distinctAgg: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      distinctFinal: String => org.apache.spark.sql.Column,
      distinctColName: String)(df: DataFrame): DataFrame = {
    val schema = df.schema
    val aggs = count(lit(1)).as("__rc") +: fields.flatMap { f =>
      val isString = schema(f).dataType == StringType
      Seq(
        count(when(col(f).isNull, 1)).as(s"__null_$f"),
        (if (isString) count(when(col(f) === "", 1)) else lit(0L).cast("long"))
          .as(s"__empty_$f"),
        distinctAgg(col(f)).as(s"__distinct_$f"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = fields.map { f =>
      struct(
        lit(f).as("field_name"),
        col("__rc").as("record_count"),
        col(s"__null_$f").as("null_count"),
        (col(s"__null_$f").cast("double") / col("__rc")).as("null_ratio"),
        col(s"__empty_$f").as("empty_string_count"),
        distinctFinal(f).as(distinctColName))
    }
    one.select(inline(array(rows: _*))).orderBy("field_name")
  }

  /** Sketch-based [[audit]] for the 100 TB path: HyperLogLog++
    * (`approx_count_distinct`) replaces exact distinct counts, collapsing
    * the Expand-based multi-countDistinct plan to ONE ordinary
    * aggregation pass — no map-side row multiplication, constant memory
    * per field regardless of cardinality. `relativeSD` is the standard
    * HLL error knob (default 5%). The exact [[audit]] remains the
    * oracle-checked form; approximate counts cannot hash-match a DuckDB
    * oracle, so this variant is unit-tested against the exact one within
    * tolerance. */
  def auditApprox(fields: Seq[String], relativeSD: Double = 0.05)(
      df: DataFrame): DataFrame =
    auditStats(fields,
      distinctAgg = approx_count_distinct(_, relativeSD),
      distinctFinal = f => col(s"__distinct_$f"),
      distinctColName = "approx_distinct_count")(df)

  /** Keys + occurrence count for groups appearing more than `threshold`
    * times (reference: `ops/rows.py::count_duplicates`, default threshold
    * 1, SQL variant = GROUP BY + HAVING). Partial aggregation makes this a
    * shuffle of group states, not rows. */
  def countDuplicates(keys: Seq[String], threshold: Long = 1L)(
      df: DataFrame): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("duplicate_count"))
      .filter(col("duplicate_count") > threshold)

  /** Duplication summary over the key (reference:
    * `ops/rows.py::duplicate_stats`): total records, distinct keys, and
    * surplus records (total - distinct). */
  def duplicateStats(keys: Seq[String])(df: DataFrame): DataFrame =
    // distinct over a STRUCT of the keys: bare countDistinct skips rows
    // where any key is NULL, which would report every null-keyed row as
    // a duplicate — contradicting countDuplicates/assertUnique, which
    // group NULL as an ordinary key value
    df.agg(
        count(lit(1)).as("record_count"),
        countDistinct(struct(keys.map(col): _*)).as("distinct_count"))
      .withColumn("duplicate_count", col("record_count") - col("distinct_count"))

  /** Rows whose key occurs more than once — the evidence set behind
    * assertUnique, useful as a queryable probe. */
  def uniqueViolations(keys: Seq[String])(df: DataFrame): DataFrame =
    countDuplicates(keys)(df)

  /** Key-skew diagnostic: the `topN` heaviest key groups with their row
    * counts and share of the table — the number you look at before
    * deciding a join needs salting or AQE skew handling. One hash-agg
    * shuffle (map-side partials) collapses the table to one row per
    * distinct key; the share denominator rides along as a broadcast
    * one-row count (over parquet that is a metadata-only scan — NOT an
    * empty-partition window over the aggregated keys, which would funnel
    * every distinct key through one task at scale); top-N plans as
    * TakeOrderedAndProject. Share is one IEEE division of two exact
    * longs — hash-matchable across engines. */
  /** Categorical distribution drift between two snapshots of "the
    * same" column — the monitoring stat behind PSI dashboards, kept
    * ORACLE-EXACT: per value, both counts, both shares (one division
    * each), the share delta, and the chi-square contribution
    * `(share_b − share_a)² / share_a` (NULL where the baseline share
    * is 0 — a brand-new category has no baseline to drift FROM, it
    * shows up via its `share_b`). Deliberately not PSI's
    * `(p_a−p_b)·ln(p_a/p_b)`: `ln` is not bit-reproducible
    * cross-engine, the chi-square form ranks drifts the same way and
    * stays a pure rational of exact integer counts. NULL values form
    * their own category (a null-rate move IS drift —
    * [[schemaDrift]]'s lesson). One hash-agg per side + one
    * full-outer join on the value. */
  def categoryDrift(field: String)(
      before: DataFrame, after: DataFrame): DataFrame = {
    def side(df: DataFrame, n: String) = df
      .groupBy(col(field).as("value"))
      .agg(count(lit(1)).as(s"n_$n"))
    val totals = before.agg(count(lit(1)).cast("double").as("__tb"))
      .crossJoin(after.agg(count(lit(1)).cast("double").as("__ta")))
    side(before, "before")
      .join(side(after, "after"), Seq("value"), "full_outer")
      .crossJoin(broadcast(totals))
      .select(col("value"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        // an EMPTY side has no distribution: shares go NULL, not 0/0 NaN
        when(col("__tb") === 0.0, lit(null).cast("double"))
          .otherwise(coalesce(col("n_before"), lit(0L)).cast("double") /
            col("__tb")).as("share_before"),
        when(col("__ta") === 0.0, lit(null).cast("double"))
          .otherwise(coalesce(col("n_after"), lit(0L)).cast("double") /
            col("__ta")).as("share_after"))
      .withColumn("share_delta", col("share_after") - col("share_before"))
      .withColumn("chi2_contrib",
        when(col("share_before") === 0.0, lit(null).cast("double"))
          .otherwise(col("share_delta") * col("share_delta") /
            col("share_before")))
  }

  /** NUMERIC distribution drift between two snapshots — the
    * Kolmogorov–Smirnov-shaped sibling of [[categoryDrift]] (which
    * answers the same question for categorical columns): equal-width
    * bins over a caller-supplied `[lo, hi)` (cutpoints from
    * `histogram`/domain knowledge — supplying them keeps the binning
    * DETERMINISTIC and oracle-exact where a data-driven min/max would
    * drift with outliers), per bin both counts, both shares, both
    * empirical CDFs, the CDF delta, and `ks_stat` = max |ΔCDF| on
    * every row — the classic two-sample KS statistic evaluated on the
    * bin grid (a lower bound on the unbinned statistic, tightening
    * with `bins`; rank-exact KS needs a global sort by construction,
    * which is the non-starter this probe exists to avoid). Values
    * outside the range clamp into the edge bins (an outlier surge IS
    * drift and must not vanish); NULLs drop — the null-rate move
    * belongs to [[categoryDrift]]/[[schemaDrift]].
    *
    * Scale shape: one keys-only hash-agg per side (map-side partials,
    * |bins| rows out), a static bin spine so empty bins keep the CDF
    * honest, one-row totals broadcast; the ONLY ordered work — the
    * cumulative sums and the max — runs over |bins| rows on one task,
    * bounded by construction (`bins` ≤ 100 000). */
  def numericDrift(
      field: String, lo: Double, hi: Double, bins: Int)(
      before: DataFrame, after: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 1 && bins <= 100000, s"bins must be in [1, 1e5]: $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    def side(df: DataFrame, n: String) = df
      .filter(col(field).isNotNull)
      .select(least(greatest(
        floor((col(field).cast("double") - lit(lo)) * lit(bins) /
          lit(hi - lo)), lit(0L)), lit((bins - 1).toLong)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(s"n_$n"))
    val totals = before.filter(col(field).isNotNull)
      .agg(count(lit(1)).cast("double").as("__tb"))
      .crossJoin(after.filter(col(field).isNotNull)
        .agg(count(lit(1)).cast("double").as("__ta")))
    val spine = before.sparkSession.range(0, bins)
      .select(col("id").as("bin"))
    val cum = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(side(before, "before"), Seq("bin"), "left")
      .join(side(after, "after"), Seq("bin"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bin"),
        (lit(lo) + col("bin") * lit(hi - lo) / lit(bins)).as("bin_lo"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        col("__tb"), col("__ta"))
      .withColumn("cdf_before",
        when(col("__tb") === 0.0, lit(null).cast("double"))
          .otherwise(sum("n_before").over(cum).cast("double") / col("__tb")))
      .withColumn("cdf_after",
        when(col("__ta") === 0.0, lit(null).cast("double"))
          .otherwise(sum("n_after").over(cum).cast("double") / col("__ta")))
      .withColumn("cdf_delta", col("cdf_after") - col("cdf_before"))
      .withColumn("ks_stat",
        max(abs(col("cdf_delta"))).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .select("bin", "bin_lo", "n_before", "n_after",
        "cdf_before", "cdf_after", "cdf_delta", "ks_stat")
  }

  /** Referential-integrity probe — the FK orphan check run after every
    * load: one row of `(n_rows, n_null_fk, n_orphans)` where an orphan
    * is a fact row whose (non-NULL) foreign key matches no dimension
    * row. NULL foreign keys are counted separately, not as orphans (a
    * deliberately-absent reference is a different defect from a
    * dangling one). One left join against the DISTINCT dimension keys
    * (broadcast when the dimension fits) + one aggregation — the fact
    * table is scanned once and never shuffled on more than the key. */
  def referentialIntegrity(
      fkCols: Seq[String], dim: DataFrame, pkCols: Seq[String])(
      fact: DataFrame): DataFrame = {
    require(fkCols.nonEmpty && fkCols.length == pkCols.length,
      "fk/pk column lists must be non-empty and same-length")
    val pk = dim.select(pkCols.map(col): _*).distinct()
      .withColumn("__present", lit(1))
    val cond = fkCols.zip(pkCols).map { case (f, p) =>
      fact(f) === pk(p) }.reduce(_ && _)
    val anyNullFk = fkCols.map(fact(_).isNull).reduce(_ || _)
    fact.join(pk, cond, "left")
      .agg(count(lit(1)).as("n_rows"),
        count(when(anyNullFk, lit(1))).as("n_null_fk"),
        count(when(!anyNullFk && col("__present").isNull, lit(1)))
          .as("n_orphans"))
  }

  /** Column profile — the `describe` every ingest starts with: per
    * column, row count, NULL count, and exact distinct count, computed
    * in ONE aggregation (Spark expands the multi-distinct via one
    * Expand pass — still a single scan of the table) and exploded to
    * one row per column with zero driver collects. Type-agnostic by
    * design (counts only), so one probe covers every column; exact
    * distincts buffer per-column value sets — at 100 TB swap mentally
    * to [[auditApprox]]'s HLL estimates. */
  def columnProfile(columns: Seq[String])(df: DataFrame): DataFrame = {
    require(columns.nonEmpty, "at least one column required")
    val aggs = columns.flatMap(c => Seq(
      count(col(c)).as(s"__nn_$c"),
      count_distinct(col(c)).as(s"__nd_$c"))) :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(columns.map(c =>
        struct(lit(c).as("column"), col("__n").as("n_rows"),
          (col("__n") - col(s"__nn_$c")).as("n_nulls"),
          col(s"__nd_$c").as("n_distinct"))): _*)).as("__p"))
      .select("__p.*")
  }

  /** The A/a/9 value shape shared by [[patternProfile]] and the
    * streaming [[graft.streaming.Streaming.windowedPatternProfile]]. */
  private[graft] def valueShape(c: Column): Column = coalesce(
    regexp_replace(regexp_replace(regexp_replace(c.cast("string"),
      "[A-Z]", "A"), "[a-z]", "a"), "[0-9]", "9"),
    lit("<null>"))

  /** Value-shape (pattern) profiling — the ingest-debug companion to
    * [[columnProfile]]: counts don't show that a "phone" column holds
    * three incompatible FORMATS, shapes do. Every string value maps to
    * its pattern — uppercase letters → `A`, lowercase → `a`, digits →
    * `9`, everything else kept verbatim — and the op reports each
    * column's `topN` most frequent shapes with exact counts and
    * shares ("Aaaaa#99999" 98%, "Aaaaa#9999" 2% → someone's key is a
    * digit short). NULLs report as the `<null>` shape (a missing
    * value IS a shape); non-string columns profile their canonical
    * string cast. Deterministic top-N: count DESC, then pattern ASC.
    * One exploded hash-agg over |columns|·rows cells + one bounded
    * per-column window. Output: `column, pattern, n, share, rank`. */
  def patternProfile(columns: Seq[String], topN: Int = 10)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(columns.nonEmpty, "at least one column required")
    require(columns.distinct.size == columns.size,
      s"duplicate columns: ${columns.mkString(", ")}")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val cells = df
      .select(explode(map(columns.flatMap(c =>
        Seq(lit(c), valueShape(col(c)))): _*)).as(Seq("column", "pattern")))
      .groupBy(col("column"), col("pattern"))
      .agg(count(lit(1)).as("n"))
    val wc = Window.partitionBy(col("column"))
    cells
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(wc).cast("double"))
      .withColumn("rank", row_number().over(
        wc.orderBy(col("n").desc, col("pattern"))))
      .filter(col("rank") <= topN)
      .select("column", "pattern", "n", "share", "rank")
  }

  def keySkew(keys: Seq[String], topN: Int = 20)(df: DataFrame): DataFrame = {
    val total = df.agg(count(lit(1)).as("__total"))
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("key_count"))
      .crossJoin(broadcast(total))
      .withColumn("share",
        col("key_count").cast("double") / col("__total").cast("double"))
      .drop("__total")
      .orderBy(col("key_count").desc +: keys.map(col(_).asc): _*)
      .limit(topN)
  }

  /** k-anonymity violations — the re-identification probe a dataset
    * must pass before release: every equivalence class under the
    * quasi-identifier columns (the attributes an attacker can link
    * from outside: zip, age band, segment…) must contain at least `k`
    * individuals, or its members are singled out by those attributes
    * alone. Emits the VIOLATING classes (`quasi…, class_size` with
    * `class_size < k`) — empty output = the table is k-anonymous.
    * NULL quasi values form their own class (a missing zip code still
    * identifies the group of rows missing it). ONE hash-agg + filter;
    * at 100 TB the violating set is small by construction (it is
    * bounded by the number of classes, and only the rare classes
    * survive the filter). */
  def kAnonymity(quasi: Seq[String], k: Long)(df: DataFrame): DataFrame = {
    require(quasi.nonEmpty, "at least one quasi-identifier required")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .filter(col("class_size") < k)
  }

  /** k-anonymity ENFORCEMENT — [[kAnonymity]] reports violations, this
    * produces the release view that has none: optionally GENERALIZE
    * quasi-identifiers (coarsen in place — bin a balance, truncate a
    * zip; the caller supplies the coarsening expression per column,
    * `histogram`/`equalFreqBins` cutpoints are the natural source),
    * then SUPPRESS the rows whose (generalized) class is still smaller
    * than `k`. Suppress-only is `generalizations = Map.empty`.
    * Output: the input schema with generalized columns REPLACED (the
    * released view must not carry the raw values) and violating rows
    * dropped — `kAnonymity(quasi, k)` on the result is empty by
    * construction, spec-pinned.
    *
    * NULL quasi values form their own class (the [[kAnonymity]]
    * doctrine), so the keeper join is NULL-SAFE (`<=>`) — a NULL-zip
    * class of 50 rows is anonymous, not collateral suppression.
    *
    * Scale shape: one hash-agg over quasi keys (map-side combining,
    * keys only — the payload never shuffles into it) builds the
    * keeper-class frame, bounded by |classes| and usually
    * broadcastable — then ONE broadcast-or-hash left-semi join
    * releases the big side, which in the broadcast case never
    * shuffles at all. */
  def kAnonymize(
      quasi: Seq[String], k: Long,
      generalizations: Map[String, Column] = Map.empty)(
      df: DataFrame): DataFrame = {
    require(quasi.nonEmpty, "at least one quasi-identifier required")
    require(k >= 2, s"k must be >= 2, got $k")
    require(generalizations.keySet.subsetOf(quasi.toSet),
      s"generalizations must target quasi columns; " +
        s"extras: ${generalizations.keySet -- quasi.toSet}")
    val coarsened = generalizations.foldLeft(df) {
      case (d, (c, e)) => d.withColumn(c, e)
    }
    val keepers = coarsened
      .groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("__cs"))
      .filter(col("__cs") >= k)
      .select(quasi.map(c => col(c).as(s"__q_$c")): _*)
    val cond = quasi.map(c => col(c) <=> col(s"__q_$c")).reduce(_ && _)
    coarsened.join(keepers, cond, "left_semi")
  }

  /** l-diversity violations — k-anonymity's necessary complement: a
    * class can be large yet still leak if every member SHARES the
    * sensitive value (the homogeneity attack: "all 50 patients in
    * that zip+age class have the same diagnosis"). Emits classes
    * whose sensitive column carries fewer than `l` DISTINCT non-NULL
    * values (`quasi…, class_size, distinct_sensitive`). NULL
    * sensitive values do not count toward diversity (an absent
    * diagnosis discloses nothing), matching `count(DISTINCT …)`
    * semantics on both engines. Same one-agg scale shape as
    * [[kAnonymity]]. */
  def lDiversity(
      quasi: Seq[String], sensitive: String, l: Long)(
      df: DataFrame): DataFrame = {
    require(quasi.nonEmpty, "at least one quasi-identifier required")
    require(!quasi.contains(sensitive),
      "sensitive column cannot be a quasi-identifier")
    require(l >= 2, s"l must be >= 2, got $l")
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        count_distinct(col(sensitive)).as("distinct_sensitive"))
      .filter(col("distinct_sensitive") < l)
  }

  /** Pre-flight cardinality estimate for an equi-join — the check you
    * run BEFORE committing a 100 TB join: per join key, the exact
    * output contribution `left_rows × right_rows`, top-`topN` keys
    * first. A key whose product dwarfs the rest IS the skew that
    * would strand the join on one reducer — the decision input for
    * salting / AQE skew-join / rethinking the key, bought for two
    * cheap key-count aggregations (key + two counts shuffle, never
    * the payload) instead of one catastrophic shuffle. NULL keys are
    * excluded — an equi-join drops them anyway. Output:
    * `key…, left_rows, right_rows, out_rows` ordered by `out_rows`
    * desc (key asc tiebreak). */
  def joinCardinality(
      leftKeys: Seq[String], right: DataFrame, rightKeys: Seq[String],
      topN: Int = 20)(left: DataFrame): DataFrame = {
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      "need equal-length non-empty key lists")
    val l = left
      .filter(leftKeys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(leftKeys.map(col): _*)
      .agg(count(lit(1)).as("left_rows"))
    val r = right
      .filter(rightKeys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(rightKeys.map(col): _*)
      .agg(count(lit(1)).as("right_rows"))
      // align the right key names to the left's so the join is by-name
      .select(rightKeys.zip(leftKeys).map { case (rk, lk) =>
        col(rk).as(lk) }.toSeq :+ col("right_rows"): _*)
    l.join(r, leftKeys)
      .withColumn("out_rows", col("left_rows") * col("right_rows"))
      .orderBy(col("out_rows").desc +: leftKeys.map(col(_).asc): _*)
      .limit(topN)
  }

  /** Inter-labeler agreement: Cohen's kappa between two categorical
    * label columns on the same rows — the first QA number when a corpus
    * carries labels from two sources (two annotators, a heuristic vs a
    * model, a stored tag vs a re-derivation): raw agreement corrected
    * for the agreement two INDEPENDENT labelers with these marginals
    * would reach by chance. One row: `n`, `agree_n`, observed agreement
    * `po = agree_n/n`, chance agreement `pe = Σ_k n_a(k)·n_b(k) / n²`,
    * and `kappa = (po − pe)/(1 − pe)` (NULL when pe = 1, the degenerate
    * single-class case).
    *
    * Everything derives from ONE (a, b) hash-agg (the confusion frame,
    * |classes|²-bounded); marginals and the pe numerator are
    * |classes|-row folds over it. The pe numerator is summed in
    * `decimal(38,0)` — exact at any corpus size, where `long` products
    * of two marginals overflow past n ≈ 3·10⁹ — and every emitted ratio
    * is a fixed dag of IEEE divisions on exact integers, so results
    * hash-match cross-engine. NULL labels on either side are excluded
    * (they are missingness, not a category; count them with [[audit]]).
    * Rows with label columns of any type are accepted — comparison is
    * on the raw values. */
  def labelAgreement(labelA: Column, labelB: Column)(
      df: DataFrame): DataFrame = {
    val conf = df
      .filter(labelA.isNotNull && labelB.isNotNull)
      .groupBy(labelA.as("__a"), labelB.as("__b"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    val totals = conf.agg(
      sum(col("__n")).as("n"),
      sum(when(col("__a") === col("__b"), col("__n"))
        .otherwise(lit(0L))).as("agree_n"))
    val margA = conf.groupBy(col("__a").as("__k"))
      .agg(sum(col("__n")).as("__na"))
    val margB = conf.groupBy(col("__b").as("__k"))
      .agg(sum(col("__n")).as("__nb"))
    val peNum = margA.join(margB, "__k")
      .agg(coalesce(sum(col("__na").cast("decimal(19,0)") *
        col("__nb").cast("decimal(19,0)")), lit(0).cast("decimal(38,0)"))
        .as("__pe_num"))
    totals.crossJoin(broadcast(peNum))
      .select(
        col("n"), col("agree_n"),
        (col("agree_n").cast("double") / col("n")).as("po"),
        (col("__pe_num").cast("double") /
          (col("n").cast("double") * col("n").cast("double"))).as("pe"))
      .withColumn("kappa",
        when(col("pe") === 1.0, lit(null).cast("double"))
          .otherwise((col("po") - col("pe")) / (lit(1.0) - col("pe"))))
  }

  /** Category concentration — the Herfindahl–Hirschman index per group:
    * `hhi = Σ_c (n_c/n)²` over `field`'s category counts, plus
    * `effective_categories = 1/hhi` (the "equivalent number of equal
    * categories", the interpretable form). The one-number answer to
    * "is this language's corpus really diverse, or 95% one domain?" —
    * the diversity side of [[keySkew]]'s top-N view. Rational in exact
    * counts: Σn_c² sums in decimal(38,0)/HUGEINT, hhi is one division
    * of exact integers, so rows hash-match cross-engine. NULL is a
    * category (missingness concentrates like anything else). Two
    * hash-aggs, \|groups·categories\| bounded. */
  def concentration(groupCols: Seq[String], field: String)(
      df: DataFrame): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    val grp = groupCols.map(col)
    df.groupBy(grp :+ col(field).as("__c"): _*)
      .agg(count(lit(1)).as("__nc"))
      .groupBy(grp: _*)
      .agg(sum(col("__nc")).as("n"),
        count(lit(1)).as("categories"),
        sum((col("__nc").cast("decimal(19,0)") *
          col("__nc").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("__s2"))
      .select(grp :+ col("n") :+ col("categories") :+
        (col("__s2").cast("double") /
          (col("n").cast("double") * col("n").cast("double")))
          .as("hhi") :+
        ((col("n").cast("double") * col("n").cast("double")) /
          col("__s2").cast("double")).as("effective_categories"): _*)
  }

  /** Gini coefficient per group — the inequality of a non-negative
    * measure (document lengths, per-site page counts, per-user token
    * budgets): 0 = perfectly equal, → 1 = one row owns everything. The
    * sorted-rank formula `G = Σ(2i − n − 1)·x_(i) / (n·Σx)` with an
    * EXACT integer numerator: `field` is integral by contract (scale
    * money first — the money doctrine), the rank products sum in
    * decimal(38,0)/HUGEINT, and G is one final IEEE division, so rows
    * hash-match cross-engine. Rank ties are harmless — permuting equal
    * values never changes the sum. NULL values drop; all-zero groups
    * (Σx = 0) emit NULL. One per-group sort window + one hash-agg. */
  def gini(groupCols: Seq[String], field: String)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "at least one group column")
    val grp = groupCols.map(col)
    val w = Window.partitionBy(grp: _*).orderBy(col(field).asc)
    df.filter(col(field).isNotNull)
      .withColumn("__i", row_number().over(w).cast("long"))
      .groupBy(grp: _*)
      .agg(count(lit(1)).as("n"),
        sum(col(field).cast("decimal(38,0)")).as("__sx"),
        sum(((col("__i") * 2).cast("decimal(19,0)") *
          col(field).cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("__s2ix"))
      .select(grp :+ col("n") :+
        when(col("__sx") === 0, lit(null).cast("double"))
          .otherwise(
            (col("__s2ix").cast("double") -
              (col("n") + 1).cast("double") * col("__sx").cast("double"))
              / (col("n").cast("double") * col("__sx").cast("double")))
          .as("gini"): _*)
  }

  /** Confusion matrix — [[labelAgreement]]'s drill-down: kappa says HOW
    * MUCH two labelers agree, this says WHERE they disagree. Per
    * (label_a, label_b): the pair count and `row_share` = n / Σ over
    * label_a (the per-class recall diagonal when A is truth). One
    * |classes|²-bounded hash-agg plus a |classes|-row marginal join;
    * shares are exact-count divisions. NULLs excluded as in
    * [[labelAgreement]]. */
  def confusionMatrix(labelA: Column, labelB: Column)(
      df: DataFrame): DataFrame = {
    val conf = df
      .filter(labelA.isNotNull && labelB.isNotNull)
      .groupBy(labelA.as("label_a"), labelB.as("label_b"))
      .agg(count(lit(1)).as("n"))
    val rowTot = conf.groupBy(col("label_a"))
      .agg(sum(col("n")).as("__rt"))
    conf.join(rowTot, "label_a")
      .select(col("label_a"), col("label_b"), col("n"),
        (col("n").cast("double") / col("__rt")).as("row_share"))
      .orderBy("label_a", "label_b")
  }

  /** Score calibration report: does a [0,1] model/heuristic score MEAN
    * what it says? Rows land in `bins` equal-width score bins; per bin
    * the empirical positive rate of `label` is compared to the mean
    * claimed score, and the weighted absolute gap folds into the
    * expected calibration error (ECE) — the reliability-diagram table,
    * the standard acceptance gate before a learned quality score drives
    * corpus elections ([[graft.ext.Dedup]] keeper elections, gating,
    * mixing).
    *
    * Determinism contract: scores are quantized to 1e-9 before the
    * per-bin mean (integer-scaled sums — a float sum over an unordered
    * group would not hash-match; the money-column discipline), so
    * `mean_score` is the exact mean of the quantized scores. Bin
    * assignment `min(⌊score·bins⌋, bins−1)` clamps score = 1.0 into the
    * top bin; NULL scores/labels drop. ECE is an order-pinned fold over
    * the ≤ `bins` bin rows. Output: one row per non-empty bin
    * (`bin, n, mean_score, pos_rate, gap`) plus the constant `ece`
    * column, ordered by bin. */
  def scoreCalibration(score: Column, label: Column, bins: Int = 10,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    require(bins >= 1 && bins <= 1000, s"bins must be in [1,1000]: $bins")
    val grp = groupCols.map(col)
    val perBin = df
      .filter(score.isNotNull && label.isNotNull)
      .select(grp :+
        // clamp BOTH edges (histogram2d's edge-bin convention): an
        // out-of-contract score < 0 must land in bin 0, not mint a
        // negative bin row that silently skews the ECE fold
        greatest(least(floor(score * bins).cast("int"), lit(bins - 1)),
          lit(0)).as("bin") :+
        round(score * lit(1e9), 0).cast("long").as("__s9") :+
        when(label, 1L).otherwise(0L).as("__pos"): _*)
      .groupBy(grp :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__s9")).as("__ssum"),
        sum(col("__pos")).as("__pn"))
      .select(grp :+ col("bin") :+ col("n") :+
        (col("__ssum").cast("double") / (col("n").cast("double") * 1e9))
          .as("mean_score") :+
        (col("__pn").cast("double") / col("n")).as("pos_rate"): _*)
      .withColumn("gap", abs(col("mean_score") - col("pos_rate")))
    // ECE: Σ_b (n_b/n)·gap_b, folded in bin order over ≤ `bins` rows —
    // per group when grouped (each group gets ITS calibration verdict)
    val eceAggs = Seq(sum(col("n")).as("__tot"),
      aggregate(
        transform(array_sort(collect_list(struct(col("bin"),
          col("n").as("__bn"), col("gap").as("__g")))),
          s => s.getField("__bn").cast("double") * s.getField("__g")),
        lit(0.0), (acc, x) => acc + x).as("__wsum"))
    if (groupCols.isEmpty) {
      val ece = perBin.agg(eceAggs.head, eceAggs.tail: _*)
        .select((col("__wsum") / col("__tot")).as("ece"))
      perBin.crossJoin(broadcast(ece)).orderBy("bin")
    } else {
      val ece = perBin.groupBy(grp: _*)
        .agg(eceAggs.head, eceAggs.tail: _*)
        .select(grp :+ (col("__wsum") / col("__tot")).as("ece"): _*)
      perBin.join(ece, groupCols)
        .orderBy(grp :+ col("bin"): _*)
    }
  }

  /** Isotonic (PAV) calibration FIT over score bins — the repair step
    * [[scoreCalibration]] only measures: given a [0,1] score whose
    * reliability diagram sags or zig-zags, fit the best monotone
    * non-decreasing calibrated probability per bin (weighted isotonic
    * regression on the binned positive rates) — the standard
    * post-training calibration map (Zadrozny & Elkan's method, the
    * sklearn `IsotonicRegression` shape) that turns a mis-calibrated
    * quality model into one whose scores can drive corpus elections
    * and mixing thresholds directly.
    *
    * Computed by the MIN-MAX closed form of weighted isotonic
    * regression: over the observed bins in score order,
    * `ŷ_b = max_{i≤b} min_{j≥b} (Σ_{i..j} k) / (Σ_{i..j} n)` — exactly
    * the pool-adjacent-violators solution, but expressible as pure
    * array folds. Every candidate average is ONE double division of
    * exact integer prefix-sum differences, and min/max comparisons of
    * identical IEEE values are order-free — cross-engine
    * hash-identical with no order-pinned fold anywhere. Bin
    * assignment, clamping, and NULL discipline are
    * [[scoreCalibration]]'s verbatim (both edges clamp, NULL
    * score/label rows drop). Empty bins are ABSENT rows: they carry no
    * weight, so the fit pools across them exactly as PAV does.
    *
    * Scale shape: one corpus hash-agg → ≤ `bins` rows per group; the
    * fit is an O(bins³) array expression over ONE collected ≤
    * `bins`-element array per group (the ewmaSmooth bounded-fold
    * doctrine — `bins` ≤ 100 by contract, enforced). Output per
    * (group, observed bin): `bin, n, k, rate, calibrated`, with
    * `calibrated` monotone non-decreasing in `bin` within every group
    * (spec-pinned vs a reference PAV implementation). */
  def isotonicCalibration(score: Column, label: Column, bins: Int = 10,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    require(bins >= 1 && bins <= 100, s"bins must be in [1,100]: $bins")
    val grp = groupCols.map(col)
    val perBin = df
      .filter(score.isNotNull && label.isNotNull)
      .select(grp :+
        greatest(least(floor(score * bins).cast("int"), lit(bins - 1)),
          lit(0)).as("bin") :+
        when(label, 1L).otherwise(0L).as("__pos"): _*)
      .groupBy(grp :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__pos")).as("k"))
    val collected =
      (if (grp.isEmpty) perBin.groupBy() else perBin.groupBy(grp: _*))
        .agg(array_sort(collect_list(
          struct(col("bin"), col("n"), col("k")))).as("__b"))
    // prefix sums N(i), K(i) over the observed-bin array (1-based),
    // then the min-max formula per position; size ≤ bins by contract
    def pref(field: String) = transform(
      sequence(lit(1), size(col("__b"))),
      i => aggregate(slice(col("__b"), lit(1), i), lit(0L),
        (a, x) => a + x.getField(field)))
    def upTo(arr: Column, i: Column) = // Σ over positions 1..i, i may be 0
      when(i === 0, lit(0L)).otherwise(element_at(arr, i))
    val fitted = collected
      .withColumn("__N", pref("n")).withColumn("__K", pref("k"))
      .withColumn("__cal", transform(
        sequence(lit(0), size(col("__b")) - 1),
        b => array_max(transform(sequence(lit(0), b), i =>
          array_min(transform(
            sequence(b + 1, size(col("__b"))),
            j => (element_at(col("__K"), j) - upTo(col("__K"), i))
              .cast("double") /
              (element_at(col("__N"), j) - upTo(col("__N"), i))
                .cast("double")))))))
    fitted
      // __cal must ride THROUGH the explode (each exploded row indexes
      // back into its group's fit array)
      .select(grp :+ col("__cal") :+
        posexplode(col("__b")).as(Seq("__i", "__r")): _*)
      .withColumn("calibrated",
        element_at(col("__cal"), col("__i") + 1))
      .select(grp :+ col("__r.bin").as("bin") :+ col("__r.n").as("n") :+
        col("__r.k").as("k") :+
        (col("__r.k").cast("double") / col("__r.n").cast("double"))
          .as("rate") :+ col("calibrated"): _*)
  }

  /** Fail the pipeline when the key is not unique (reference:
    * `ops/rows.py::assert_unique`). Pass-through on success so probes
    * compose inside pipelines. */
  /** Row quarantine — the dead-letter split [[verificationSuite]] only
    * REPORTS: evaluate named row-level rules and annotate every row with
    * the comma-joined names of the rules it VIOLATES (`quarantine_reasons`,
    * empty = clean). A rule violates when its predicate is false OR NULL
    * — an unevaluable check is a failed check, the verificationSuite
    * discipline. Split with `filter(col("quarantine_reasons") === "")` /
    * its negation: the clean stream proceeds, the quarantined stream
    * lands in the dead-letter store WITH its reasons, so reprocessing
    * never needs to re-derive why a row was held. Rule order in the
    * output string is the caller's list order — deterministic. Pure
    * per-row projection, zero shuffle, row-preserving by construction. */
  def quarantine(rules: Seq[(String, Column)])(df: DataFrame): DataFrame = {
    require(rules.nonEmpty, "at least one quarantine rule required")
    require(rules.map(_._1).distinct.size == rules.size,
      "rule names must be unique")
    val reasons = concat_ws(",",
      rules.map { case (name, pred) =>
        when(coalesce(pred, lit(false)), lit(null).cast("string"))
          .otherwise(lit(name))
      }: _*)
    df.withColumn("quarantine_reasons", reasons)
  }

  def assertUnique(keys: Seq[String])(df: DataFrame): DataFrame = {
    val dupes = countDuplicates(keys)(df).limit(1).count()
    if (dupes > 0)
      throw new ProbeAssertionError(
        s"assert_unique failed: key ${keys.mkString("(", ",", ")")} has duplicates")
    df
  }

  /** Fail unless (field, value) occurs at least once (reference:
    * `ops/rows.py::assert_contains`). */
  def assertContains(field: String, value: Any)(df: DataFrame): DataFrame = {
    if (df.filter(col(field) === lit(value)).limit(1).count() == 0)
      throw new ProbeAssertionError(s"assert_contains failed: $field=$value absent")
    df
  }

  /** Fail if (field, value) occurs (reference:
    * `ops/rows.py::assert_missing`). */
  def assertMissing(field: String, value: Any)(df: DataFrame): DataFrame = {
    if (df.filter(col(field) === lit(value)).limit(1).count() > 0)
      throw new ProbeAssertionError(s"assert_missing failed: $field=$value present")
    df
  }

  /** Filter-funnel report — the "why was data dropped" observability a
    * filter CHAIN needs: for every named rule, how many rows pass it
    * independently (`pass_count`) and how many survive it AND every rule
    * before it (`surviving_count`, the funnel). A cleaning pipeline
    * publishes this next to its output so a sudden corpus shrink is
    * attributable to the rule that caused it.
    *
    * ONE aggregation pass computes all 2×rules counters (map-side
    * partials; no per-rule job, no second scan), then a local explode
    * reshapes the single result row to one row per rule in chain order.
    * Rule columns must be deterministic predicates over the row. */
  /** Declarative data-quality verification suite — the Deequ-shaped
    * contract check a pipeline publishes per run: each named check
    * carries its own MINIMUM pass fraction and the report row says
    * pass_count, pass_frac, and a `passed` verdict. Two check kinds:
    * `rowChecks` are per-row predicates (completeness `col.isNotNull`,
    * range bars, format regexes — anything deterministic over the
    * row); `distinctChecks` assert DISTINCTNESS of a key tuple
    * (distinct keys / rows ≥ threshold — the duplicate-rate
    * contract; threshold 1.0 means fully unique, and unlike
    * [[assertUnique]] this REPORTS instead of throwing so one run
    * grades every contract).
    *
    * ONE aggregation pass computes every counter (row predicates as
    * conditional sums, key distinctness as count_distinct — Spark
    * plans the multi-distinct with one Expand, still a single scan),
    * then a local explode reshapes the single result row to one row
    * per check. Verdicts are exact: `pass·1.0 ≥ threshold·total` is
    * one IEEE multiply per side and pass_frac one division (the
    * no-float-accumulation doctrine). An EMPTY dataset passes every
    * check vacuously (pass_frac 1.0) — a missing feed should trip a
    * row-count monitor, not every quality contract at once. */
  def verificationSuite(
      rowChecks: Seq[(String, Column, Double)],
      distinctChecks: Seq[(String, Seq[String], Double)] = Nil)(
      df: DataFrame): DataFrame = {
    require(rowChecks.nonEmpty || distinctChecks.nonEmpty,
      "at least one check required")
    val names = rowChecks.map(_._1) ++ distinctChecks.map(_._1)
    require(names.distinct.length == names.length, "duplicate check names")
    (rowChecks.map(_._3) ++ distinctChecks.map(_._3)).foreach(t =>
      require(t >= 0.0 && t <= 1.0, s"thresholds must be in [0, 1], got $t"))
    distinctChecks.foreach { case (n, ks, _) =>
      require(ks.nonEmpty, s"distinct check '$n' needs at least one key") }
    val rowAggs = rowChecks.zipWithIndex.map { case ((_, c, _), i) =>
      coalesce(sum(when(c, 1).otherwise(0)), lit(0)).cast("long")
        .as(s"__p$i") }
    val dAggs = distinctChecks.zipWithIndex.map { case ((_, ks, _), i) =>
      count_distinct(struct(ks.map(col): _*)).as(s"__d$i") }
    val rows =
      rowChecks.zipWithIndex.map { case ((n, _, t), i) =>
        struct(lit(n).as("check_name"), lit("row").as("kind"),
          col("__total").as("total"), col(s"__p$i").as("pass_count"),
          lit(t).as("threshold")) } ++
      distinctChecks.zipWithIndex.map { case ((n, _, t), i) =>
        struct(lit(n).as("check_name"), lit("distinctness").as("kind"),
          col("__total").as("total"), col(s"__d$i").as("pass_count"),
          lit(t).as("threshold")) }
    df.agg(count(lit(1)).as("__total"), (rowAggs ++ dAggs): _*)
      .select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.*"))
      .withColumn("pass_frac",
        when(col("total") === 0, lit(1.0))
          .otherwise(col("pass_count").cast("double")
            / col("total").cast("double")))
      .withColumn("passed",
        col("total") === 0 ||
          col("pass_count").cast("double") >=
            col("threshold") * col("total").cast("double"))
      .select("check_name", "kind", "total", "pass_count", "pass_frac",
        "threshold", "passed")
  }

  def filterFunnel(rules: Seq[(String, Column)])(df: DataFrame): DataFrame = {
    require(rules.nonEmpty, "rules must be non-empty")
    val cums = rules.scanLeft(lit(true): Column) {
      case (acc, (_, c)) => acc && c
    }.tail
    // coalesce: sum over ZERO rows is NULL, and an empty input must
    // report 0-counts, not a row of nulls
    val counters = rules.zipWithIndex.flatMap { case ((_, c), i) => Seq(
      coalesce(sum(when(c, 1).otherwise(0)), lit(0)).cast("long").as(s"__p$i"),
      coalesce(sum(when(cums(i), 1).otherwise(0)), lit(0)).cast("long")
        .as(s"__c$i"))
    }
    df.agg(count(lit(1)).as("__total"), counters: _*)
      .select(posexplode(array(rules.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("rule"), col(s"__p$i").as("pass_count"),
          col(s"__c$i").as("surviving_count"), col("__total").as("total"))
      }: _*)).as(Seq("step", "__r")))
      .select(col("step").cast("long").as("step"), col("__r.*"))
  }

  /** Schema + null-rate drift between two snapshots of "the same"
    * table (yesterday's load vs today's): one row per column name from
    * EITHER side with its presence, type on each side, and exact
    * null fractions — the upstream-feed tripwire (a column silently
    * turning all-NULL or flipping type is the classic feed breakage,
    * and a row-count diff won't catch it). Cost: one counting
    * aggregation per side (all columns in one pass, map-side partials),
    * plus a driver-side merge of the two single-row results — schema
    * metadata is driver-sized by definition. */
  /** ROC area under the curve — the threshold-free discrimination
    * score for any ranking signal (a learned quality score, a
    * heuristic like length, a dedup confidence) against a binary
    * label: the probability a random positive outranks a random
    * negative. The acceptance gate that complements
    * [[scoreCalibration]] — calibration says the score MEANS what it
    * says, AUC says it ORDERS examples correctly; a corpus-election
    * signal needs both.
    *
    * Computed by the Mann–Whitney rank-sum identity with exact
    * mid-rank tie handling, entirely in integers: collapse to one row
    * per (group, distinct score) carrying `(cnt, pos)`, cumulative
    * count of strictly-lower scores via ONE window, then
    * `Σ pos·(2·cum + cnt + 1) = 2·Σ(positive mid-ranks)` folds in a
    * plain hash-agg (bigint — order-free, exact), and
    * `auc = (S₂ − nPos·(nPos+1)) / (2·nPos·nNeg)` is a single float
    * division of exact integers — cross-engine hash-identical with NO
    * order-pinned fold needed. NULL score or label rows drop; a group
    * with no positives or no negatives reports NULL auc (undefined,
    * not 0 — the vacuous case must not look like a verdict).
    *
    * Scale shape: one hash-agg corpus → |distinct scores| rows, one
    * window shuffle over THAT (partitioned by group), one final
    * hash-agg. The corpus is touched once; everything after is
    * score-cardinality-sized. Output per group:
    * `n, n_pos, n_neg, auc`. */
  def rocAuc(score: Column, label: Column,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val w = (if (grp.isEmpty) Window.partitionBy()
      else Window.partitionBy(grp: _*)).orderBy(col("__s").asc)
    val blocks = df
      .filter(score.isNotNull && label.isNotNull)
      .select(grp :+ score.as("__s") :+
        label.cast("boolean").as("__l"): _*)
      .groupBy(grp :+ col("__s"): _*)
      .agg(count(lit(1)).as("__cnt"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("__pos"))
      .withColumn("__cum",
        coalesce(sum(col("__cnt")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    blocks
      .groupBy(grp: _*)
      .agg(sum(col("__cnt")).as("n"),
        sum(col("__pos")).as("n_pos"),
        sum(col("__pos") * (col("__cum") * 2L + col("__cnt") + 1L))
          .as("__s2"))
      .select(grp :+ col("n") :+ col("n_pos") :+
        (col("n") - col("n_pos")).as("n_neg") :+
        when(col("n_pos") === 0L || col("n") === col("n_pos"),
          lit(null).cast("double"))
          .otherwise(
            (col("__s2") - col("n_pos") * (col("n_pos") + 1L))
              .cast("double") /
              (col("n_pos") * (col("n") - col("n_pos")) * 2L)
                .cast("double"))
          .as("auc"): _*)
  }

  /** Average precision (area under the precision–recall curve, step
    * interpolation) — the rare-positive companion to [[rocAuc]]: with
    * 0.1% positives AUC saturates near 1 while AP still moves, so
    * contamination/PII/toxicity screens gate on AP. Ties share one
    * block (the whole tied block lands at once — precision evaluated
    * at the block boundary, the standard tie-consistent definition;
    * no within-tie order can change the answer).
    *
    * Determinism: blocks are (group, distinct score) rows with exact
    * integer `(cnt, pos, cumPos, cumCnt)`; each block's term
    * `pos·cumPos / cumCnt` is ONE float division of exact integer
    * products, and the block sum is an order-pinned fold by
    * descending score (the [[scoreCalibration]] ECE discipline), then
    * one division by nPos. Per-group collected block lists are
    * bounded by score cardinality — the per-key memory bound
    * [[graft.ops.WindowOps.ewmaSmooth]] documents; quantize the score
    * upstream if a group's distinct-score count rivals executor heap.
    * NULL score/label drop; no positives → NULL ap. Output per
    * group: `n, n_pos, ap`. */
  def prAuc(score: Column, label: Column,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val w = (if (grp.isEmpty) Window.partitionBy()
      else Window.partitionBy(grp: _*)).orderBy(col("__s").desc)
    val blocks = df
      .filter(score.isNotNull && label.isNotNull)
      .select(grp :+ score.as("__s") :+
        label.cast("boolean").as("__l"): _*)
      .groupBy(grp :+ col("__s"): _*)
      .agg(count(lit(1)).as("__cnt"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("__pos"))
      .withColumn("__cumPos", sum(col("__pos")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__cumCnt", sum(col("__cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // fold by DESCENDING score: negate the key so sort_array's asc
    // order walks the curve from the top rank down (float negation is
    // exact)
    val fold = aggregate(
      sort_array(collect_list(struct((col("__s") * lit(-1.0)).as("__k"),
        ((col("__pos") * col("__cumPos")).cast("double") /
          col("__cumCnt").cast("double")).as("__t")))),
      lit(0.0), (acc, x) => acc + x.getField("__t"))
    blocks
      .groupBy(grp: _*)
      .agg(sum(col("__cnt")).as("n"),
        sum(col("__pos")).as("n_pos"),
        fold.as("__apSum"))
      .select(grp :+ col("n") :+ col("n_pos") :+
        when(col("n_pos") === 0L, lit(null).cast("double"))
          .otherwise(col("__apSum") / col("n_pos").cast("double"))
          .as("ap"): _*)
  }

  /** Benford first-digit screen — the classic fabricated-numbers /
    * broken-generator tripwire over any naturally-spread positive
    * measure (amounts, sizes, counts): per leading digit 1–9, the
    * observed share against Benford's log₁₀(1 + 1/d) expectation.
    * Values are floored to integers first (`floor` is exact on
    * doubles and sidesteps the engines' different double→int rounding
    * conventions), the leading digit is the first character of the
    * integer's decimal string (cross-engine stable for positive
    * integers — no float log₁₀ anywhere), and non-positive/NULL
    * values drop. Shares are exact-count divisions; the expected
    * share is a compile-time Scala literal mirrored digit-for-digit
    * into the oracle. One corpus hash-agg to ≤ 9·|groups| rows, then
    * a ≤9-row window per group for the total. Output per (group,
    * digit): `n, share, expected, deviation` — `deviation` is the
    * signed gap; screeners alert on `max |deviation|`. */
  def benfordDigits(value: Column, groupCols: Seq[String] = Nil)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val w = if (grp.isEmpty) Window.partitionBy()
      else Window.partitionBy(grp: _*)
    val expected = (1 to 9).foldLeft(lit(null).cast("double")) {
      case (acc, d) => when(col("digit") === d,
        lit(math.log10(1.0 + 1.0 / d))).otherwise(acc)
    }
    // values ≥ 2^63 are excluded BEFORE the long cast: Spark's non-ANSI
    // cast would saturate them to Long.MaxValue (digit 9, silently
    // wrong) while an ANSI engine raises — dropping them is the one
    // behavior both engines can express identically, and a screen over
    // naturally-spread measures loses nothing actionable above 9.2e18
    df.select(grp :+ floor(value.cast("double")).as("__v"): _*)
      .filter(col("__v") > 0 && col("__v") < lit(9.223372036854776e18))
      .select(grp :+
        substring(col("__v").cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"): _*)
      .groupBy(grp :+ col("digit"): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(w).cast("double"))
      .withColumn("expected", expected)
      .withColumn("deviation", col("share") - col("expected"))
  }

  /** t-closeness — the release gate [[kAnonymity]] and [[lDiversity]]
    * build toward: per quasi-identifier equivalence class, the total
    * variation distance between the class's sensitive-value
    * distribution and the global one. k-anonymity stops re-identifying
    * the ROW, l-diversity stops a single-valued class, but a class can
    * still LEAK by skew (90% of one diagnosis vs 10% globally) —
    * t-closeness bounds exactly that. A release passes at level t when
    * every class's `t_closeness ≤ t`.
    *
    * TV over the categorical domain:
    * `t = (Σ_{v∈class} |p_class − p_global| + (1 − Σ_{v∈class}
    * p_global)) / 2` — the second term folds every value ABSENT from
    * the class without materializing the class×domain cross product.
    * Shares are exact-count divisions; the two sums are ONE
    * order-pinned fold by sensitive value (per-class lists bounded by
    * the sensitive domain, which is small by definition — a
    * high-cardinality "sensitive" column is an identifier and belongs
    * in [[kAnonymity]]'s quasi set instead). NULL sensitive values
    * drop; NULL quasi values form their own class (the [[kAnonymity]]
    * doctrine — NULL is a disclosure-relevant value). One corpus
    * hash-agg + one domain-sized broadcast join. Output per class:
    * quasi cols, `n, t_closeness`. */
  def tCloseness(quasi: Seq[String], sensitive: String)(
      df: DataFrame): DataFrame = {
    require(quasi.nonEmpty, "at least one quasi-identifier column")
    val grp = quasi.map(col)
    val base = df.filter(col(sensitive).isNotNull)
      .select(grp :+ col(sensitive).as("__v"): _*)
    val global = base.groupBy(col("__v"))
      .agg(count(lit(1)).as("__gn"))
    val globalTot = global.agg(sum(col("__gn")).as("__gt"))
    val cells = base.groupBy(grp :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .join(broadcast(global), "__v")
      .crossJoin(broadcast(globalTot))
      .select(grp :+ col("__v") :+ col("__c") :+
        (col("__gn").cast("double") / col("__gt").cast("double"))
          .as("__pg"): _*)
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy(grp: _*)
    val withN = cells.withColumn("__nq", sum(col("__c")).over(wq))
    def foldBy(term: Column) = aggregate(
      sort_array(collect_list(struct(col("__v").as("__k"),
        term.as("__t")))),
      lit(0.0), (acc, x) => acc + x.getField("__t"))
    withN
      .groupBy(grp: _*)
      .agg(max(col("__nq")).as("n"),
        foldBy(abs(col("__c").cast("double") /
          col("__nq").cast("double") - col("__pg"))).as("__s1"),
        foldBy(col("__pg")).as("__s2"))
      .select(grp :+ col("n") :+
        ((col("__s1") + (lit(1.0) - col("__s2"))) / lit(2.0))
          .as("t_closeness"): _*)
  }

  /** Chi-square feature screening — which categorical columns MOVE a
    * label? For every feature, the χ² statistic of its (value, label)
    * contingency table plus Cramér's V (the [0,1]-normalized effect
    * size that makes features comparable across cardinalities) — the
    * standard first-pass filter before training a quality/routing
    * model on corpus metadata, and log-free by construction (χ² is
    * rational in the counts; V adds one sqrt — the repo's
    * no-libm-in-scores doctrine).
    *
    * One exploded pass counts every OBSERVED (feature, value, label)
    * cell (bounded by Σ_f |values_f|·|labels|, never corpus-sized);
    * marginals are group sums over that cell frame. Absent cells
    * (o = 0) still owe their expected mass, so the op uses the
    * algebraic identity `χ² = Σ_cells o²/e − N` — the Σ runs only
    * over observed cells (o²/e vanishes at o = 0) yet equals the full
    * table's statistic exactly. Each term is exact-count arithmetic
    * with e = rowTot·colTot/N as ONE fused division; the per-feature
    * sum is an order-pinned fold by (value, label).
    * NULL labels drop (no evidence); NULL feature values become the
    * `"__NULL__"` category (a missing value IS signal — the
    * [[categoryDrift]] doctrine); all values compare as strings.
    * Output per feature: `feature, n, chi2, dof, cramers_v`, one
    * corpus scan for ALL features. */
  def chiSquareSelect(features: Seq[String], label: Column)(
      df: DataFrame): DataFrame = {
    require(features.nonEmpty, "at least one feature column")
    // a duplicate name would otherwise hit Spark's map-key dedup policy
    // at runtime (exception or silent LAST_WIN collapse) instead of a
    // clear argument error — the fellegiSunter guard, applied here
    require(features.distinct.size == features.size,
      s"duplicate feature columns: ${features.mkString(", ")}")
    val cells = df
      .filter(label.isNotNull)
      .select(label.cast("string").as("__l"),
        explode(map(features.flatMap(f =>
          Seq(lit(f), coalesce(col(f).cast("string"),
            lit("__NULL__")))): _*)).as(Seq("__f", "__v")))
      .groupBy(col("__f"), col("__v"), col("__l"))
      .agg(count(lit(1)).as("__o"))
    import org.apache.spark.sql.expressions.Window
    val wf = Window.partitionBy(col("__f"))
    val joined = cells
      .withColumn("__rt", sum(col("__o")).over(
        Window.partitionBy(col("__f"), col("__v"))))
      .withColumn("__ct", sum(col("__o")).over(
        Window.partitionBy(col("__f"), col("__l"))))
      .withColumn("__n", sum(col("__o")).over(wf))
    // o²/e with e = (rt·ct)/n as one fused division; summing these and
    // subtracting N covers absent cells exactly (their o²/e is zero
    // but their expected mass lands via the −N identity)
    val fold = aggregate(
      sort_array(collect_list(struct(col("__v").as("__k1"),
        col("__l").as("__k2"),
        ((col("__o") * col("__o")).cast("double") /
          ((col("__rt") * col("__ct")).cast("double") /
            col("__n").cast("double"))).as("__t")))),
      lit(0.0), (acc, x) => acc + x.getField("__t"))
    joined
      .groupBy(col("__f").as("feature"))
      .agg(max(col("__n")).as("n"),
        countDistinct(col("__v")).as("__r"),
        countDistinct(col("__l")).as("__c"),
        (fold - max(col("__n")).cast("double")).as("chi2"))
      .select(col("feature"), col("n"), col("chi2"),
        ((col("__r") - 1) * (col("__c") - 1)).as("dof"),
        when(col("__r") < 2 || col("__c") < 2,
          lit(null).cast("double"))
          .otherwise(sqrt(col("chi2") /
            (col("n") * least(col("__r") - 1, col("__c") - 1))
              .cast("double"))).as("cramers_v"))
  }

  /** Fleiss' kappa — chance-corrected agreement for MORE THAN TWO
    * raters, the gap [[labelAgreement]] (Cohen, exactly 2) leaves
    * open: every labeling pipeline that routes each item to 3+
    * annotators or ensembles 3+ classifiers grades itself with this.
    * Input is the natural long frame — one row per RATING
    * `(item, label)` — not a ratings matrix; the variable-n
    * generalization is used, so items may carry different rating
    * counts (items with fewer than 2 ratings drop — pairwise
    * agreement is undefined on them).
    *
    * `P_i = (Σ_j n_ij² − n_i)/(n_i(n_i−1))` (the fraction of agreeing
    * rating pairs within item i), `P̄ = Σ_i P_i / I`,
    * `p_j = Σ_i n_ij / N`, `P_e = Σ_j p_j²`,
    * `κ = (P̄ − P_e)/(1 − P_e)` — every count exact, every division a
    * fixed node the oracle mirrors, both Σ folds order-pinned (items
    * by id, categories by label) so the floats hash-match. P_e = 1
    * (single category everywhere) → NULL κ. NULL items/labels drop.
    * Two hash-aggs + two bounded folds; one corpus scan. Output per
    * group: `n_items, n_ratings, p_bar, p_e, kappa`.
    *
    * `exactOrder = false` is the PRODUCTION mode for ungrouped
    * million-item corpora (the [[bradleyTerry]]/hits convention): the
    * pinned folds collect one struct per kept item (P̄) / per category
    * (P_e) into a single aggregation row per group — unbounded for the
    * P̄ leg when a group spans the whole corpus. The escape hatch swaps
    * both folds for plain `sum()` (map-side-combining hash agg, O(1)
    * state): same mathematics, engine-chosen addition order — agrees
    * to float rounding but is not oracle-hash-pinnable, so the exact
    * default stays the contract mode. */
  /** The pinned-or-plain Σ the agreement probes share: `exactOrder`
    * sorts (key, term) structs and folds left from 0.0 (cross-engine
    * hash-identical, the oracle contract); `false` is the plain
    * map-side-combining `sum()` production mode. */
  private def pinnedFold(
      key: Column, term: Column, exactOrder: Boolean): Column =
    if (exactOrder)
      org.apache.spark.sql.functions.aggregate(
        sort_array(collect_list(struct(key.as("__k"), term.as("__t")))),
        lit(0.0), (acc, x) => acc + x.getField("__t"))
    else sum(term)

  def fleissKappa(item: Column, label: Column,
      groupCols: Seq[String] = Nil,
      exactOrder: Boolean = true)(df: DataFrame): DataFrame = {
    val grp = groupCols.map(col)
    val cells = df
      .filter(item.isNotNull && label.isNotNull)
      .select(grp :+ item.as("__i") :+ label.cast("string").as("__l"): _*)
      .groupBy(grp :+ col("__i") :+ col("__l"): _*)
      .agg(count(lit(1)).as("__nij"))
      .localCheckpoint() // the ONE corpus scan: feeds items AND marginals
    val items = cells
      .groupBy(grp :+ col("__i"): _*)
      .agg(sum(col("__nij")).as("__ni"),
        sum(col("__nij") * col("__nij")).as("__s2"))
      .filter(col("__ni") >= 2)
      .withColumn("__pi",
        (col("__s2") - col("__ni")).cast("double") /
          (col("__ni") * (col("__ni") - 1)).cast("double"))
      .localCheckpoint() // <= |items| rows; feeds P̄/N and the keep-join
    def fold(key: Column, term: Column) = pinnedFold(key, term, exactOrder)
    val totals =
      (if (grp.isEmpty) items.groupBy() else items.groupBy(grp: _*))
        .agg(count(lit(1)).as("n_items"), sum(col("__ni")).as("n_ratings"),
          fold(col("__i"), col("__pi")).as("__psum"))
    // marginals over KEPT items only (the variable-n convention)
    val kept = items.select(grp :+ col("__i"): _*)
    val marg = cells.join(kept, groupCols :+ "__i")
      .groupBy(grp :+ col("__l"): _*)
      .agg(sum(col("__nij")).as("__cj"))
    val pe =
      (if (grp.isEmpty) marg.crossJoin(totals)
       else marg.join(totals, groupCols))
        .withColumn("__pj",
          col("__cj").cast("double") / col("n_ratings").cast("double"))
    val peAgg =
      (if (grp.isEmpty) pe.groupBy() else pe.groupBy(grp: _*))
        .agg(fold(col("__l"), col("__pj") * col("__pj")).as("p_e"))
    (if (grp.isEmpty) totals.crossJoin(peAgg)
     else totals.join(peAgg, groupCols))
      .withColumn("p_bar",
        col("__psum") / col("n_items").cast("double"))
      .select(grp ++ Seq(col("n_items"), col("n_ratings"), col("p_bar"),
        col("p_e"),
        when(col("p_e") === 1.0, lit(null).cast("double"))
          .otherwise((col("p_bar") - col("p_e")) /
            (lit(1.0) - col("p_e"))).as("kappa")): _*)
  }

  /** Krippendorff's α (nominal) — the agreement coefficient built for
    * MISSING data, beside [[fleissKappa]]: both accept the variable-n
    * long frame, but κ's chance term P_e uses rating-marginal
    * proportions while α's expected disagreement is the
    * small-sample-corrected pairing WITHOUT replacement over all N
    * ratings — so α stays honest on sparse annotation matrices (each
    * item seen by a different rater subset, the usual crowd-labeling
    * shape) where κ's chance model is known to misbehave. The content-
    * analysis standard (Krippendorff 2004); report both and alarm on
    * divergence.
    *
    * Coincidence-matrix form, nominal metric: per kept item u (n_u ≥ 2
    * ratings), the within-item AGREEMENT pair mass is
    * `A_u = Σ_c n_uc(n_uc−1)/(n_u−1)`; with `A = Σ_u A_u`,
    * `N = Σ_u n_u`, and label totals `n_c = Σ_u n_uc`:
    * `D_o = (N − A)/N`, `D_e = (N² − Σ_c n_c²)/(N(N−1))`,
    * `α = 1 − D_o/D_e`. All counts exact integers (Σn_c² in
    * decimal(38,0) — overflow-proof); the ONE float fold is Σ_u A_u,
    * pinned by item id (`exactOrder = true`, the oracle contract;
    * `false` = plain sum, the [[fleissKappa]] production knob). D_e = 0
    * (every rating one category, or N ≤ 1) → NULL α. NULL items/labels
    * and single-rating items drop, as in [[fleissKappa]]. Two
    * hash-aggs + bounded folds; one corpus scan. Output per group:
    * `n_items, n_ratings, d_o, d_e, alpha`. */
  def krippendorffAlpha(item: Column, label: Column,
      groupCols: Seq[String] = Nil,
      exactOrder: Boolean = true)(df: DataFrame): DataFrame = {
    val grp = groupCols.map(col)
    val cells = df
      .filter(item.isNotNull && label.isNotNull)
      .select(grp :+ item.as("__i") :+ label.cast("string").as("__l"): _*)
      .groupBy(grp :+ col("__i") :+ col("__l"): _*)
      .agg(count(lit(1)).as("__nij"))
      .localCheckpoint() // the ONE corpus scan: feeds items AND marginals
    val items = cells
      .groupBy(grp :+ col("__i"): _*)
      .agg(sum(col("__nij")).as("__ni"),
        sum(col("__nij") * (col("__nij") - 1)).as("__agr"))
      .filter(col("__ni") >= 2)
      .withColumn("__au", col("__agr").cast("double") /
        (col("__ni") - 1).cast("double"))
      .localCheckpoint() // <= |items| rows; feeds A/N and the keep-join
    val totals =
      (if (grp.isEmpty) items.groupBy() else items.groupBy(grp: _*))
        .agg(count(lit(1)).as("n_items"), sum(col("__ni")).as("__N"),
          pinnedFold(col("__i"), col("__au"), exactOrder).as("__A"))
    val kept = items.select(grp :+ col("__i"): _*)
    val marg = cells.join(kept, groupCols :+ "__i")
      .groupBy(grp :+ col("__l"): _*)
      .agg(sum(col("__nij")).as("__cj"))
    val sq =
      (if (grp.isEmpty) marg.groupBy() else marg.groupBy(grp: _*))
        .agg(sum(col("__cj").cast("decimal(19,0)") *
          col("__cj").cast("decimal(19,0)")).as("__sumSq"))
    val n = col("__N").cast("double")
    val dO = (n - col("__A")) / n
    val dE = (n * n - col("__sumSq").cast("double")) / (n * (n - lit(1.0)))
    (if (grp.isEmpty) totals.crossJoin(sq)
     else totals.join(sq, groupCols))
      .withColumn("d_o", dO)
      .withColumn("d_e", dE)
      .select(grp ++ Seq(col("n_items"), col("__N").as("n_ratings"),
        col("d_o"), col("d_e"),
        when(col("d_e") <= 0.0, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("d_o") / col("d_e")).as("alpha")): _*)
  }

  /** Krippendorff's α with a DISTANCE metric — the ordinal/interval
    * completion of [[krippendorffAlpha]], which scores every
    * disagreement 1: on a Likert-style annotation scale (1–5 quality
    * ratings, harm severities) a 4-vs-5 split is near-agreement and a
    * 1-vs-5 split is a fight, and the δ²-weighted coefficient is what
    * annotation QA actually thresholds there (Krippendorff 2004, the
    * ordinal/interval metrics). Same variable-n long frame, same
    * missing-data-honest coincidence pairing; labels must be NUMERIC
    * (they carry the scale).
    *
    * Over the kept-item label marginals n_c (value-ordered, cumulative
    * mass C_c) the pair distance is
    *   - `interval`: δ²_ck = (v_c − v_k)²  — value gaps;
    *   - `ordinal`:  δ²_ck = (Σ_{g=c..k} n_g − (n_c+n_k)/2)² — rank
    *     mass between the categories, the tie-robust textbook form,
    *     carried as the exact integer 2δ = 2C_k − 2C_c + n_c − n_k
    *     and squared in decimal(38,0) before the one float division;
    *   - `nominal`:  δ² = 1 — reduces to [[krippendorffAlpha]]
    *     (property-spec-pinned, and binary-label `interval` ≡ it).
    * Observed/expected disagreement ride the coincidence identities
    *   `D_o = (2/N)·Σ_u Σ_{c<k} n_uc·n_uk·δ²_ck/(n_u−1)`,
    *   `D_e = (2/(N(N−1)))·Σ_{c<k} n_c·n_k·δ²_ck`,
    * `α = 1 − D_o/D_e`. All counts and the ordinal 2δ carry are exact
    * integers; the TWO float folds (per-item pair terms pinned by
    * (item, v_c, v_k), marginal pair terms by (v_c, v_k)) follow the
    * [[krippendorffAlpha]] exactOrder doctrine. D_e = 0 → NULL α.
    * NULL/NaN labels and single-rating items drop.
    *
    * Scale shape: the corpus scans once into cells; per-item pairs are
    * |labels-per-item|²-bounded; the GLOBAL pair frame is |V|² off the
    * marginals and the op raises loudly past `maxLabels` distinct
    * values (quantize near-continuous scores first — the
    * [[graft.ext.TextOps.scorePercentiles]] advice; an unquantized
    * float column is not an annotation scale). Output per group:
    * `n_items, n_ratings, d_o, d_e, alpha`. */
  def krippendorffAlphaWeighted(item: Column, label: Column,
      metric: String = "ordinal",
      groupCols: Seq[String] = Nil,
      exactOrder: Boolean = true,
      maxLabels: Int = 256)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(Seq("nominal", "ordinal", "interval").contains(metric),
      s"metric must be nominal|ordinal|interval, got $metric")
    require(maxLabels >= 2 && maxLabels <= 4096,
      s"maxLabels must be in [2, 4096], got $maxLabels")
    val grp = groupCols.map(col)
    val cells = df
      .filter(item.isNotNull && label.isNotNull &&
        !isnan(label.cast("double")))
      .select(grp :+ item.as("__i") :+
        label.cast("double").as("__v"): _*)
      .groupBy(grp :+ col("__i") :+ col("__v"): _*)
      .agg(count(lit(1)).as("__nij"))
      .localCheckpoint() // the ONE corpus scan
    val items = cells
      .groupBy(grp :+ col("__i"): _*)
      .agg(sum(col("__nij")).as("__ni"))
      .filter(col("__ni") >= 2)
      .localCheckpoint() // <= |items| rows
    val totals =
      (if (grp.isEmpty) items.groupBy() else items.groupBy(grp: _*))
        .agg(count(lit(1)).as("n_items"), sum(col("__ni")).as("__N"))
    val kcells = cells.join(items, groupCols :+ "__i")
    // value-ordered marginals with cumulative mass; the |V| guard
    // rides the frame every downstream column reads, so an oversized
    // scale raises before any |V|² pair enumerates
    val wCum = Window.partitionBy(grp: _*).orderBy(col("__v"))
    val wAll = Window.partitionBy(grp: _*)
    val marg = kcells
      .groupBy(grp :+ col("__v"): _*)
      .agg(sum(col("__nij")).as("__nc0"))
      .withColumn("__nv", count(lit(1)).over(wAll))
      .withColumn("__nc",
        when(col("__nv") > maxLabels, raise_error(concat(
          lit("krippendorffAlphaWeighted: "), col("__nv").cast(StringType),
          lit(s" distinct label values > maxLabels=$maxLabels — the" +
            " pair frame is |V|^2; quantize the scale first")))
          .cast("long"))
          .otherwise(col("__nc0")))
      .withColumn("__cum", sum(col("__nc")).over(wCum))
      .select(grp ++ Seq(col("__v"), col("__nc"), col("__cum")): _*)
    val pa = marg.select(grp ++ Seq(col("__v").as("__va"),
      col("__nc").as("__na"), col("__cum").as("__ca")): _*)
    val pb = marg.select(grp ++ Seq(col("__v").as("__vb"),
      col("__nc").as("__nb"), col("__cum").as("__cb")): _*)
    // |V|²-bounded by the guard: a broadcastable parameter frame
    val pairs0 =
      (if (grp.isEmpty) pa.crossJoin(pb) else pa.join(pb, groupCols))
        .filter(col("__va") < col("__vb"))
    val wExpr = metric match {
      case "nominal" => lit(1.0)
      case "interval" =>
        (col("__va") - col("__vb")) * (col("__va") - col("__vb"))
      case "ordinal" =>
        val d2 = (lit(2L) * col("__cb") - lit(2L) * col("__ca") +
          col("__na") - col("__nb")).cast("decimal(38,0)")
        (d2 * d2).cast("double") / lit(4.0)
    }
    val pairs = pairs0.withColumn("__w", wExpr).localCheckpoint()
    def fold(key: Column, term: Column) = pinnedFold(key, term, exactOrder)
    val eAgg =
      (if (grp.isEmpty) pairs.groupBy() else pairs.groupBy(grp: _*))
        .agg(fold(struct(col("__va"), col("__vb")),
          (col("__na").cast("decimal(38,0)") *
            col("__nb").cast("decimal(38,0)")).cast("double") *
            col("__w")).as("__esum"))
    val ia = kcells.select(grp ++ Seq(col("__i"),
      col("__v").as("__va"), col("__nij").as("__ma"), col("__ni")): _*)
    val ib = kcells.select(grp ++ Seq(col("__i"),
      col("__v").as("__vb"), col("__nij").as("__mb")): _*)
    val ipairs = ia.join(ib, groupCols :+ "__i")
      .filter(col("__va") < col("__vb"))
      .join(broadcast(pairs.select(grp ++ Seq(col("__va"), col("__vb"),
        col("__w")): _*)), groupCols ++ Seq("__va", "__vb"))
      .withColumn("__to",
        (col("__ma") * col("__mb")).cast("double") * col("__w") /
          (col("__ni") - 1).cast("double"))
    val oAgg =
      (if (grp.isEmpty) ipairs.groupBy() else ipairs.groupBy(grp: _*))
        .agg(fold(struct(col("__i"), col("__va"), col("__vb")),
          col("__to")).as("__osum"))
    val nD = col("__N").cast("double")
    val joined =
      (if (grp.isEmpty) totals.crossJoin(oAgg).crossJoin(eAgg)
       else totals.join(oAgg, groupCols, "left")
         .join(eAgg, groupCols, "left"))
    joined
      .withColumn("d_o",
        lit(2.0) * coalesce(col("__osum"), lit(0.0)) / nD)
      .withColumn("d_e",
        lit(2.0) * coalesce(col("__esum"), lit(0.0)) /
          (nD * (nD - lit(1.0))))
      .select(grp ++ Seq(col("n_items"), col("__N").as("n_ratings"),
        col("d_o"), col("d_e"),
        when(col("d_e") <= 0.0, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("d_o") / col("d_e")).as("alpha")): _*)
  }

  /** Per-rep Poisson(1) weight from the repo's md5-uint32 draw: the
    * inverse-CDF thresholds are driver-computed ONCE, floored onto the
    * integer 2³² grid, and compared as plain longs — the whole draw is
    * integer arithmetic, exact cross-engine. P(w > 8) < 1e-8: the tail
    * clamps at 8. */
  private[graft] val poissonCutoffs: Seq[Long] = {
    val e1 = math.exp(-1.0)
    (0 to 7).map { k =>
      val cdf = (0 to k).foldLeft(0.0) { (acc, j) =>
        acc + e1 / (1 to j).foldLeft(1.0)(_ * _)
      }
      math.floor(cdf * 4294967296.0).toLong
    }
  }

  private[graft] def poissonWeight(u32: Column): Column =
    poissonCutoffs.zipWithIndex.foldRight(lit(8): Column) {
      case ((cut, k), rest) => when(u32 < cut, lit(k)).otherwise(rest)
    }

  /** Poisson-bootstrap confidence interval for a per-group mean — the
    * distributed bootstrap (one pass, no resampled copies of the
    * corpus): each row's multiplicity in resample b is a Poisson(1)
    * draw keyed on `md5(salt ++ key ++ '_' ++ b)`, so the B resamples
    * materialize as ONE explode to (group, rep) partial sums —
    * map-side combine collapses the shuffle to |groups|·B rows
    * regardless of corpus size. Every resample mean is an exact-integer
    * ratio (values 1e-9-quantized, weighted sums in decimal(38,0)),
    * the interval is the percentile method on the B means (sorted by
    * (value, rep) — total order, engine-identical selection), and the
    * whole draw is deterministic: rerun-identical, oracle-replayable.
    * `keyCol` must identify rows uniquely (duplicate keys draw
    * identical weights — correlated resamples); reps with zero total
    * weight (only plausible for tiny groups) drop. Output per group:
    * `n, mean, reps, ci_low, ci_high`. */
  def bootstrapCI(keyCol: Column, value: Column, reps: Int = 200,
      alpha: Double = 0.05, salt: String = "bs",
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    require(reps >= 10 && reps <= 10000,
      s"reps must be in [10, 10000], got $reps")
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    val grp = groupCols.map(col)
    val d38 = "decimal(38,0)"
    val base = df
      .filter(value.isNotNull && keyCol.isNotNull)
      .select(grp :+ keyCol.cast("string").as("__key") :+
        round(value.cast("double") * 1e9, 0).cast("decimal(19,0)")
          .as("__x9"): _*)
    val overall =
      (if (grp.isEmpty) base.groupBy() else base.groupBy(grp: _*))
        .agg(count(lit(1)).as("n"),
          (sum(col("__x9")).cast("double") /
            (count(lit(1)).cast("double") * 1e9)).as("mean"))
    val repMeans = base
      .select(grp :+ col("__key") :+ col("__x9") :+
        explode(sequence(lit(0), lit(reps - 1))).as("__rep"): _*)
      .withColumn("__w", poissonWeight(
        graft.functions.GraftFunctions.md5Prefix32(
          concat(col("__key"), lit("_"), col("__rep")), salt)))
      .groupBy(grp :+ col("__rep"): _*)
      .agg(sum(col("__w").cast("long")).as("__sw"),
        sum((col("__w") * col("__x9")).cast(d38)).as("__swx"))
      .filter(col("__sw") > 0)
      .withColumn("__m", col("__swx").cast("double") /
        (col("__sw").cast("double") * 1e9))
    val ci =
      (if (grp.isEmpty) repMeans.groupBy() else repMeans.groupBy(grp: _*))
        .agg(sort_array(collect_list(
          struct(col("__m"), col("__rep")))).as("__ms"))
        .select(grp ++ Seq(size(col("__ms")).cast("long").as("reps"),
          element_at(col("__ms"), greatest(
            ceil(lit(alpha / 2.0) * size(col("__ms")) - lit(1e-9))
              .cast("int"), lit(1))).getField("__m").as("ci_low"),
          element_at(col("__ms"), greatest(
            ceil(lit(1.0 - alpha / 2.0) * size(col("__ms")) - lit(1e-9))
              .cast("int"), lit(1))).getField("__m").as("ci_high")): _*)
    (if (grp.isEmpty) overall.crossJoin(ci)
     else overall.join(ci, groupCols))
      .select(grp ++ Seq(col("n"), col("mean"), col("reps"),
        col("ci_low"), col("ci_high")): _*)
  }

  /** Paired permutation test — "is system A actually better than B on
    * this eval, or is the gap noise?": under the null the per-item
    * differences are symmetric around 0, so each resample flips every
    * difference's sign by an independent deterministic coin
    * (`md5(salt ++ key ++ '_' ++ b)` high bit) and the p-value is the
    * fraction of resamples whose |Σ flipped| reaches the observed |Σ|
    * — with the standard +1 smoothing `(1 + hits)/(reps + 1)` so p is
    * never an impossible 0. EVERYTHING is integer arithmetic until
    * the final division: differences 1e-9-quantize, sums are
    * decimal(38,0), and the comparison is |t_b| ≥ |t_obs| on exact
    * integers — no float tolerance anywhere, bit-identical
    * cross-engine. Same one-explode shuffle shape as [[bootstrapCI]]:
    * |groups|·reps partial-sum rows, corpus scanned once per frame.
    * Output per group: `n, mean_diff, reps, p_value`. */
  def permutationTest(keyCol: Column, a: Column, b: Column,
      reps: Int = 200, salt: String = "pt",
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    require(reps >= 10 && reps <= 10000,
      s"reps must be in [10, 10000], got $reps")
    val grp = groupCols.map(col)
    val d38 = "decimal(38,0)"
    val base = df
      .filter(a.isNotNull && b.isNotNull && keyCol.isNotNull)
      .select(grp :+ keyCol.cast("string").as("__key") :+
        round((a.cast("double") - b.cast("double")) * 1e9, 0)
          .cast("decimal(19,0)").as("__d9"): _*)
    val observed =
      (if (grp.isEmpty) base.groupBy() else base.groupBy(grp: _*))
        .agg(count(lit(1)).as("n"),
          sum(col("__d9")).cast(d38).as("__sd"))
        .withColumn("mean_diff",
          col("__sd").cast("double") / (col("n").cast("double") * 1e9))
    val flips = base
      .select(grp :+ col("__key") :+ col("__d9") :+
        explode(sequence(lit(0), lit(reps - 1))).as("__rep"): _*)
      .withColumn("__s", when(
        graft.functions.GraftFunctions.md5Prefix32(
          concat(col("__key"), lit("_"), col("__rep")), salt)
          < 2147483648L, lit(1)).otherwise(lit(-1)))
      .groupBy(grp :+ col("__rep"): _*)
      .agg(sum((col("__s") * col("__d9")).cast(d38)).as("__t"))
    val joined =
      if (grp.isEmpty) flips.crossJoin(broadcast(observed))
      else flips.join(observed, groupCols)
    val hits =
      (if (grp.isEmpty) joined.groupBy() else joined.groupBy(grp: _*))
        .agg(sum(when(abs(col("__t")) >= abs(col("__sd")), 1L)
          .otherwise(0L)).as("__hits"))
    (if (grp.isEmpty) observed.crossJoin(hits)
     else observed.join(hits, groupCols))
      .select(grp ++ Seq(col("n"), col("mean_diff"),
        lit(reps.toLong).as("reps"),
        ((col("__hits") + 1).cast("double") /
          lit((reps + 1).toDouble)).as("p_value")): _*)
  }

  /** Rank-biased overlap between two rankers — "did the new retrieval
    * model actually change what users see?": unlike
    * [[graft.ext.Similarity]]'s graded ranking metrics, RBO needs NO
    * ground truth — it compares two rankings of the same query
    * directly, top-weighted by the persistence parameter `p` (the
    * probability a reader continues to the next depth; Webber et
    * al.'s measure). The truncated form:
    * `RBO@k = (1−p)·Σ_{d=1..k} p^{d−1}·X_d/d`, where `X_d` is the
    * overlap of the two depth-d prefixes.
    *
    * Distributed shape: a matched (query, item) pair enters every
    * prefix from depth `max(rank_a, rank_b)` on, so ONE equi-join on
    * (query, item) + one bounded explode to (query, d) gives every
    * X_d as an exact count; the per-query score is a d-ordered fold
    * of `X_d · w_d` with the weights `w_d = (1−p)·p^{d−1}/d` computed
    * DRIVER-side and embedded as literals (the [[fellegiSunter]]
    * convention — no float pow in the plan, oracle mirrors the same
    * constants). Rows ranked beyond `depth` are ignored; a query
    * present in only one ranking scores 0 (nothing overlaps); ranks
    * must be ≥ 1 and unique per (query, ranking) — the caller's
    * row_number. Truncated RBO (no extrapolation tail) — stated, and
    * what the oracle replays. Output per query:
    * `<query>, overlap_at_depth, rbo`. */
  def rankBiasedOverlap(
      b: DataFrame, queryField: String, itemField: String,
      rankField: String, p: Double = 0.9, depth: Int = 10)(
      a: DataFrame): DataFrame = {
    require(p > 0.0 && p < 1.0, s"p must be in (0, 1), got $p")
    require(depth >= 1 && depth <= 100,
      s"depth must be in [1, 100], got $depth")
    def side(df: DataFrame, rk: String) = df
      .filter(col(queryField).isNotNull && col(itemField).isNotNull &&
        col(rankField).isNotNull && col(rankField) <= depth &&
        col(rankField) >= 1)
      .select(col(queryField).as("__q"), col(itemField).as("__i"),
        col(rankField).as(rk))
    val sa = side(a, "__ra")
    val sb = side(b, "__rb")
    val queries = sa.select(col("__q")).unionByName(sb.select(col("__q")))
      .distinct()
    val weights = (1 to depth).map(d =>
      d -> (1.0 - p) * math.pow(p, d - 1) / d)
    val wCol = weights.foldLeft(lit(0.0)) { case (acc, (d, w)) =>
      when(col("__d") === d, lit(w)).otherwise(acc)
    }
    val xd = sa.join(sb, Seq("__q", "__i"))
      .select(col("__q"),
        explode(sequence(greatest(col("__ra"), col("__rb")).cast("int"),
          lit(depth))).as("__d"))
      .groupBy(col("__q"), col("__d"))
      .agg(count(lit(1)).as("__x"))
    val scored = xd
      .withColumn("__w", wCol)
      .groupBy(col("__q"))
      .agg(
        max(when(col("__d") === depth, col("__x")).otherwise(lit(0L)))
          .as("overlap_at_depth"),
        org.apache.spark.sql.functions.aggregate(
          sort_array(collect_list(struct(col("__d").as("__k"),
            (col("__x").cast("double") * col("__w")).as("__t")))),
          lit(0.0), (acc, x) => acc + x.getField("__t")).as("rbo"))
    queries.join(scored, Seq("__q"), "left")
      .select(col("__q").as(queryField),
        coalesce(col("overlap_at_depth"), lit(0L)).as("overlap_at_depth"),
        coalesce(col("rbo"), lit(0.0)).as("rbo"))
  }

  /** The exact tie-averaged rank carry the rank shelf shares
    * ([[spearmanCorr]], [[mannWhitneyU]]): `2·rank = 2·rank_min +
    * t − 1` over the given order/tie windows, as an order-free exact
    * decimal(38,0) — one definition so the cross-op "same integer
    * carry" contract cannot drift by copy. */
  private def rank2Carry(
      wOrd: org.apache.spark.sql.expressions.WindowSpec,
      wTie: org.apache.spark.sql.expressions.WindowSpec): Column =
    (lit(2L) * rank().over(wOrd) + count(lit(1)).over(wTie) - lit(1L))
      .cast("decimal(38,0)")

  /** The shared maxN guard of the explicit-pair ops ([[kendallTau]],
    * [[theilSen]]): per-group sizes with a loud raise_error past the
    * quadratic bound. `base` must carry the group as `__g`. Callers
    * thread the guarded size onto SIDE A of their pair self-join and
    * filter on it (`__na <= maxN` — always true, or raising): that
    * predicate references only side-a columns, so Catalyst pushes it
    * below the join and an oversized group raises while side a
    * materializes, before its quadratic pair frame enumerates
    * (plan-asserted in the spec — the guard Filter sits under every
    * Join of the dag).
    *
    * `idCol` (when given) additionally enforces the UNIQUE-ID
    * contract of the pair ops: two rows sharing an id never pair
    * (`i_a < i_b` drops them), so duplicate ids silently shrink the
    * pair frame while arithmetic pair counts — [[theilSenCI]]'s
    * N′ = (n(n−1) − Σt(t−1))/2, [[mannKendall]]'s n(n−1)/2 variance
    * legs — still count them, shifting rank-selected CI limits onto
    * nonexistent ranks (r19 ADVICE). A group whose distinct-id count
    * differs from its row count raises loudly on the same guarded
    * `__n` column instead of returning plausible-but-wrong limits. */
  private def pairSizeGuard(base: DataFrame, op: String, maxN: Int,
      advice: String, idCol: Option[Column] = None): DataFrame = {
    val aggs = count(lit(1)).as("__n0") +:
      idCol.map(c => countDistinct(c).as("__nd")).toSeq
    val guarded = when(col("__n0") > maxN, raise_error(concat(
      lit(s"$op: group "), col("__g").cast(StringType),
      lit(s" has "), col("__n0").cast(StringType),
      lit(s" rows > maxN=$maxN — the pair join is O(n^2); " +
        advice))).cast("long"))
    val withId = idCol match {
      case None => guarded
      case Some(_) => guarded
        .when(col("__nd") =!= col("__n0"), raise_error(concat(
          lit(s"$op: group "), col("__g").cast(StringType),
          lit(" has "), (col("__n0") - col("__nd")).cast(StringType),
          lit(" duplicate id rows — the pair ops require one row " +
            "per id (pair counts and rank selections assume it); " +
            "pre-aggregate to one observation per id")))
          .cast("long"))
    }
    base.groupBy(col("__g")).agg(aggs.head, aggs.tail: _*)
      .select(col("__g"), withId.otherwise(col("__n0")).as("__n"))
  }

  /** Spearman rank correlation per group — the monotonic-agreement
    * number between two scoring columns (two rankers, a judge vs a
    * heuristic, a quality score vs downstream loss) that Pearson gets
    * wrong whenever the relation is monotone but not linear. Beside
    * [[rankBiasedOverlap]] on the ranker-comparison shelf: RBO compares
    * two top-k LISTS (top-weighted, handles non-overlap), Spearman
    * compares two full SCORINGS of the same items.
    *
    * Exactness doctrine: ties get AVERAGE ranks, and every average
    * rank is carried as the exact integer `2·rank = 2·rank_min + t − 1`
    * (rank_min from `rank()`, t the tie-group size), so the five
    * per-group sums (n, Σ2r_x, Σ2r_y, Σ(2r_x)², Σ(2r_x·2r_y), …) are
    * ORDER-FREE exact `decimal(38,0)` aggregations — no pinned fold
    * needed anywhere. ρ is then Pearson on ranks as one fixed dag of
    * IEEE casts/multiplies/divides and two correctly-rounded sqrts:
    *   ρ = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²)·√(n·Syy − Sy²))
    * (the 2× scale on both rank vectors cancels). A group where either
    * column is constant has zero rank variance → `rho` NULL (no
    * monotone signal to measure, not 0). NULL x/y rows drop.
    *
    * Scale shape: two `rank()` windows per group partition (the sort
    * is per-key, exactly the window-ops cost class), one hash-agg.
    * Decimal headroom: Σ(2r)² ≤ 4n³ — exact past 10¹² rows per group.
    * Output per group: `n, rho`. */
  def spearmanCorr(groupField: String, xField: String, yField: String)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(xField).isNotNull && col(yField).isNotNull)
      .select(col(groupField).as("__g"), col(xField).as("__x"),
        col(yField).as("__y"))
    def rank2(v: String, out: String) =
      rank2Carry(Window.partitionBy(col("__g")).orderBy(col(v)),
        Window.partitionBy(col("__g"), col(v))).as(out)
    val ranked = base.select(col("__g"), rank2("__x", "__rx"),
      rank2("__y", "__ry"))
    val agg = ranked.groupBy(col("__g")).agg(
      count(lit(1)).as("n"),
      sum(col("__rx")).as("__sx"), sum(col("__ry")).as("__sy"),
      sum(col("__rx") * col("__rx")).as("__sxx"),
      sum(col("__ry") * col("__ry")).as("__syy"),
      sum(col("__rx") * col("__ry")).as("__sxy"))
    def d(c: String) = col(c).cast("double")
    val nD = col("n").cast("double")
    val cov = nD * d("__sxy") - d("__sx") * d("__sy")
    val vx = nD * d("__sxx") - d("__sx") * d("__sx")
    val vy = nD * d("__syy") - d("__sy") * d("__sy")
    agg.select(col("__g").as(groupField), col("n"),
      when(vx > 0.0 && vy > 0.0, cov / (sqrt(vx) * sqrt(vy)))
        .as("rho"))
  }

  /** Kendall τ-b per group — the other rank-correlation coefficient,
    * read directly off CONCORDANT vs DISCORDANT pairs (interpretable
    * as "probability a random pair agrees minus disagrees"), with the
    * standard τ-b tie correction so heavily-tied score columns (integer
    * star ratings, coarse quality buckets) stay calibrated where plain
    * τ-a deflates.
    *
    * Pair enumeration is an explicit within-group self-join on
    * `id_a < id_b` — O(n²) per group BY CONSTRUCTION, which is exactly
    * why the op carries `maxN` and FAILS LOUDLY (raise_error, the
    * modularity-contract discipline) on any group larger: a silently
    * quadratic op is how a 100 TB job dies at hour six. For full-corpus
    * scorings use [[spearmanCorr]] (n·log n); τ belongs on bounded
    * eval slices — per-query candidate lists, human-eval batches.
    *
    * Exactness: C, D and the tie counts are exact integers off one
    * hash-agg over the pair frame;
    *   τ_b = (C − D) / (√(n₀ − T_x)·√(n₀ − T_y)),  n₀ = n(n−1)/2,
    * T_x/T_y counting pairs tied on x / on y (both-tied pairs count in
    * each, per the standard definition) — one fixed IEEE dag, two
    * correctly-rounded sqrts. A constant column makes a denominator
    * factor 0 → `tau_b` NULL. NULL x/y rows drop. Output per group:
    * `n, concordant, discordant, tau_b`. */
  def kendallTau(groupField: String, idField: String, xField: String,
      yField: String, maxN: Int = 10000)(df: DataFrame): DataFrame = {
    require(maxN >= 2 && maxN <= 100000,
      s"maxN must be in [2, 100000], got $maxN")
    val base = df
      .filter(col(xField).isNotNull && col(yField).isNotNull &&
        col(idField).isNotNull)
      .select(col(groupField).as("__g"), col(idField).as("__i"),
        col(xField).as("__x"), col(yField).as("__y"))
    // the quadratic guard, threaded onto side a so the raise fires
    // BELOW the pair join (the pairSizeGuard contract)
    val sized = pairSizeGuard(base, "kendallTau", maxN,
      "use spearmanCorr for full-corpus scorings")
    val a = base
      .join(sized.select(col("__g"), col("__n").as("__na")), Seq("__g"))
      .select(col("__g"), col("__i").as("__ia"),
        col("__x").as("__xa"), col("__y").as("__ya"), col("__na"))
    val b = base.select(col("__g"), col("__i").as("__ib"),
      col("__x").as("__xb"), col("__y").as("__yb"))
    val pairs = a.join(b, Seq("__g"))
      .filter(col("__ia") < col("__ib") && col("__na") <= lit(maxN))
    val sx = when(col("__xa") < col("__xb"), 1)
      .when(col("__xa") > col("__xb"), -1).otherwise(0)
    val sy = when(col("__ya") < col("__yb"), 1)
      .when(col("__ya") > col("__yb"), -1).otherwise(0)
    val agg = pairs.groupBy(col("__g")).agg(
      sum(when(sx * sy === 1, 1L).otherwise(0L)).as("concordant"),
      sum(when(sx * sy === -1, 1L).otherwise(0L)).as("discordant"),
      sum(when(sx === 0, 1L).otherwise(0L)).as("__tx"),
      sum(when(sy === 0, 1L).otherwise(0L)).as("__ty"))
    val out = sized.join(agg, Seq("__g"), "left")
    def d(c: String) = coalesce(col(c), lit(0L)).cast("double")
    val n0 = col("__n").cast("double") * (col("__n") - 1).cast("double") /
      lit(2.0)
    val dx = n0 - d("__tx")
    val dy = n0 - d("__ty")
    out.select(col("__g").as(groupField), col("__n").as("n"),
      coalesce(col("concordant"), lit(0L)).as("concordant"),
      coalesce(col("discordant"), lit(0L)).as("discordant"),
      when(dx > 0.0 && dy > 0.0,
        (d("concordant") - d("discordant")) / (sqrt(dx) * sqrt(dy)))
        .as("tau_b"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) per group — the two-sample
    * drift/AB test on RANKS: does side A's value distribution sit
    * above side B's? The nonparametric answer heavy-tailed pipeline
    * metrics (doc lengths, quality scores, latencies) need where a
    * t-test's mean is ruled by outliers. Completes the rank shelf:
    * [[spearmanCorr]] correlates two scorings, [[kendallTau]] two
    * rankers pairwise, this compares two SAMPLES.
    *
    * Exactness: pooled tie-averaged ranks ride the [[spearmanCorr]]
    * integer carry (`2·rank = 2·rank_min + t − 1`), so Σ2r over side A
    * is an order-free exact `decimal(38,0)` sum and
    * `2·U_A = Σ2r_A − n_A(n_A+1)` is EXACT INTEGER arithmetic to the
    * last step. Three readings off it, each one fixed IEEE dag:
    *   - `u_a` — the U statistic itself;
    *   - `auc = U_A/(n_A·n_B)` — the common-language effect size,
    *     literally P(random A > random B) + ½P(tie), i.e. the ROC AUC
    *     of the side label against the value;
    *   - `cliffs_delta = 2·auc − 1` — the same fact on the
    *     [−1, 1] scale (P(A>B) − P(A<B)), the effect size the
    *     nonparametric-reporting guidelines ask for beside U. This
    *     IS the two-sample rank-biserial correlation
    *     `r = 2U/(n_A·n_B) − 1` under its other textbook name
    *     (Cureton's r and Cliff's δ coincide for two samples) —
    *     bounded in [−1, 1] and sign-agreeing with z by shared
    *     numerator, both property-spec-pinned;
    *   - `z` — the tie-corrected normal approximation
    *     `(U_A − n_A n_B/2) / √(n_A n_B/12 · ((n+1) − Σ(t³−t)/(n(n−1))))`
    *     (Σ(t³−t) is the exact integer Σ_rows(t²−1), order-free).
    * No p-value by design: the normal CDF is transcendental (the
    * no-libm doctrine); consumers threshold |z| — 1.96 IS the 95%
    * gate. A group with either side empty or all values tied (zero
    * variance) reads `z` NULL; `auc` NULL when a side is empty. NULL
    * side/value rows drop.
    *
    * Scale shape: one `rank()` window + one tie-count window per group
    * partition (the [[spearmanCorr]] cost class), one hash-agg. Empty
    * `groupCols` = one global partition — the documented single-task
    * cost of an ungrouped exact rank test; shard by a group column at
    * corpus scale. Output per group:
    * `n_a, n_b, u_a, auc, cliffs_delta, z`. */
  def mannWhitneyU(side: Column, value: Column,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val base = df
      .filter(side.isNotNull && value.isNotNull)
      .select(grp :+ side.cast("boolean").as("__a") :+
        value.as("__x"): _*)
    val wOrd = Window.partitionBy(grp: _*).orderBy(col("__x"))
    val wTie = Window.partitionBy(grp :+ col("__x"): _*)
    val ranked = base.select(grp ++ Seq(col("__a"),
      rank2Carry(wOrd, wTie).as("__r2"),
      (count(lit(1)).over(wTie) * count(lit(1)).over(wTie) - lit(1L))
        .cast("decimal(38,0)").as("__tt")): _*)
    val agg =
      (if (grp.isEmpty) ranked.groupBy() else ranked.groupBy(grp: _*))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("__a"), col("__r2"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("__r2a"),
          sum(col("__tt")).as("__ties"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val nb = col("__n") - col("n_a")
    // 2·U_A, exact integer
    val u2 = col("__r2a") - dec(col("n_a")) * dec(col("n_a") + 1)
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = col("__n").cast("double")
    val variance = naD * nbD / lit(12.0) *
      ((nD + lit(1.0)) - col("__ties").cast("double") /
        (nD * (nD - lit(1.0))))
    agg
      .withColumn("n_b", nb)
      .withColumn("__u2", u2)
      .select(grp ++ Seq(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("__u2").cast("double") / lit(2.0)).as("u_a"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("__u2").cast("double") / (lit(2.0) * naD * nbD)).as("auc"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("__u2").cast("double") / (naD * nbD) - lit(1.0))
          .as("cliffs_delta"),
        when(col("n_a") > 0 && col("n_b") > 0 && variance > 0.0,
          (col("__u2") - dec(col("n_a")) * dec(col("n_b")))
            .cast("double") / (lit(2.0) * sqrt(variance))).as("z")): _*)
  }

  /** Brunner–Munzel test per group — the two-sample rank test for
    * when [[mannWhitneyU]]'s variance model is WRONG: MWU's z assumes
    * the two sides share one distribution under the null (exchange-
    * ability), so unequal variances/shapes inflate or deflate it even
    * with no stochastic ordering. Brunner–Munzel (2000) estimates the
    * SAME effect — `p_hat = P(A > B) + ½P(A = B)`, MWU's AUC — but
    * studentizes with per-side EMPIRICAL placement variances (the
    * nonparametric Behrens–Fisher solution), the modern default
    * recommendation for heteroscedastic A/B metrics.
    *
    * Exactness: placements ride TWO tie-averaged 2·rank carries
    * (pooled and within-side), so each row's `D = 2R_pooled −
    * 2R_within` is an exact integer and every Σ is an order-free
    * exact decimal(38,0) hash-agg. Per side,
    *   `v_k = (n_k·ΣD² − (ΣD)²) / (4·n_k·(n_k−1))`
    * (one division off exact integers), the rank-mean gap carries as
    * the exact `Σ2R_a·n_b − Σ2R_b·n_a`, and
    *   `statistic = n_a·n_b·(m̄_a − m̄_b) /
    *                ((n_a+n_b)·√(n_a·v_a + n_b·v_b))`
    * — positive when side A tends larger, the [[mannWhitneyU]] sign
    * convention. Also emits the Welch–Satterthwaite `df`
    *   `(n_a v_a + n_b v_b)² / ((n_a v_a)²/(n_a−1) + (n_b v_b)²/(n_b−1))`
    * — rational, no libm — so the consumer can pick the exact t
    * quantile; 1.96 IS the large-sample 95% gate. Degenerate reads:
    * a side with n < 2, or COMPLETE SEPARATION (both placement
    * variances 0 — the statistic is ±∞ by construction, the known BM
    * edge) → NULL statistic/df with honest `p_hat` and counts. NULL
    * side/value rows drop.
    *
    * Scale shape: two rank windows + two tie windows per group
    * partition (2× the [[mannWhitneyU]] cost class), one hash-agg.
    * Output per group: `n_a, n_b, p_hat, statistic, df`. */
  def brunnerMunzel(side: Column, value: Column,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val base = df
      .filter(side.isNotNull && value.isNotNull)
      .select(grp :+ side.cast("boolean").as("__a") :+
        value.as("__x"): _*)
    val wOrdP = Window.partitionBy(grp: _*).orderBy(col("__x"))
    val wTieP = Window.partitionBy(grp :+ col("__x"): _*)
    val wOrdW = Window.partitionBy(grp :+ col("__a"): _*)
      .orderBy(col("__x"))
    val wTieW = Window.partitionBy(grp ++ Seq(col("__a"), col("__x")): _*)
    val ranked = base.select(grp ++ Seq(col("__a"),
      rank2Carry(wOrdP, wTieP).as("__rp"),
      rank2Carry(wOrdW, wTieW).as("__rw")): _*)
      .withColumn("__dd", col("__rp") - col("__rw"))
    val zero38 = lit(0).cast("decimal(38,0)")
    val agg =
      (if (grp.isEmpty) ranked.groupBy() else ranked.groupBy(grp: _*))
        .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(col("__a"), col("__rp")).otherwise(zero38))
            .as("__s2ra"),
          sum(when(!col("__a"), col("__rp")).otherwise(zero38))
            .as("__s2rb"),
          sum(when(col("__a"), col("__dd")).otherwise(zero38))
            .as("__sda"),
          sum(when(!col("__a"), col("__dd")).otherwise(zero38))
            .as("__sdb"),
          sum(when(col("__a"), col("__dd") * col("__dd"))
            .otherwise(zero38)).as("__sdda"),
          sum(when(!col("__a"), col("__dd") * col("__dd"))
            .otherwise(zero38)).as("__sddb"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = naD + nbD
    val va = (d38(col("n_a")) * col("__sdda") -
      col("__sda") * col("__sda")).cast("double") /
      (lit(4.0) * naD * (naD - lit(1.0)))
    val vb = (d38(col("n_b")) * col("__sddb") -
      col("__sdb") * col("__sdb")).cast("double") /
      (lit(4.0) * nbD * (nbD - lit(1.0)))
    // 2·n_a·n_b·(m̄_a − m̄_b), exact integer
    val mnum = col("__s2ra") * d38(col("n_b")) -
      col("__s2rb") * d38(col("n_a"))
    val mdiff = mnum.cast("double") / (lit(2.0) * naD * nbD)
    val pooledV = naD * va + nbD * vb
    val live = col("n_a") >= 2L && col("n_b") >= 2L
    val pHat = when(col("n_a") > 0L && col("n_b") > 0L,
      (col("__s2ra").cast("double") / (lit(2.0) * naD) -
        (naD + lit(1.0)) / lit(2.0)) / nbD)
    val stat = when(live && pooledV > 0.0,
      naD * nbD * mdiff / (nD * sqrt(pooledV)))
    val dfW = when(live && pooledV > 0.0,
      (pooledV * pooledV) /
        ((naD * va) * (naD * va) / (naD - lit(1.0)) +
          (nbD * vb) * (nbD * vb) / (nbD - lit(1.0))))
    agg.select(grp ++ Seq(col("n_a"), col("n_b"), pHat.as("p_hat"),
      stat.as("statistic"), dfW.as("df")): _*)
  }

  /** Hodges–Lehmann shift estimate with its distribution-free CI per
    * group — the two-sample verdict in ORIGINAL UNITS, the answer to
    * the question every A/B owner asks right after [[mannWhitneyU]]
    * says "B is larger" and `cliffs_delta` gives a unitless r: "by
    * HOW MUCH, in ms/tokens/dollars, with brackets". The estimate is
    * the median of all n_a·n_b cross-pair differences `a_i − b_j`
    * (Hodges & Lehmann 1963 — the location shift a Wilcoxon test
    * implicitly tests, with the same ~29%-contamination robustness
    * as [[theilSen]]'s slope), and the CI is the distribution-free
    * rank interval over the SAME sorted differences.
    *
    * Construction (Lehmann 1975; the [[theilSenCI]] machinery applied
    * to cross-pairs): over the N = n_a·n_b differences in ascending
    * order (pinned by (d, id_a, id_b) — deterministic through ties),
    *   `C = zCrit·√Var(S)` with `Var(S) = 4·Var(U)` — Var(U) the
    *     [[mannWhitneyU]] tie-corrected variance
    *     `n_a·n_b/12·((n+1) − Σ(t³−t)/(n(n−1)))`, its Σ(t³−t) an
    *     exact decimal(38,0) hash-agg off pooled tie-group sizes
    *     (no rank window anywhere — HL needs only tie masses),
    *   `M1 = (N − C)/2`, `M2 = (N + C)/2`,
    * and the limits are the differences at ranks `max(1, ⌊M1⌋)` and
    * `min(N, ⌊M2⌋ + 1)` — ROUNDED OUTWARD on both sides (the
    * [[theilSenCI]] convention: the reported interval can only be
    * wider than the fractional-rank ideal, never narrower). The
    * point estimate is the same two-middle-ranks exact selection as
    * [[theilSen]]'s median (`(min + max)/2` of ranks ⌊(N+1)/2⌋ and
    * ⌊N/2⌋+1). Location equivariance (+c to side A moves the
    * estimate and both limits by exactly +c on integer-valued data),
    * side-swap negation, and sign agreement with `cliffs_delta` are
    * property-spec-pinned.
    *
    * Pair enumeration is an explicit A×B cross join within each group
    * — O(n_a·n_b) BY CONSTRUCTION, [[pairSizeGuard]]-guarded on the
    * group's TOTAL row count n (n_a·n_b ≤ n²/4 — the [[kendallTau]]
    * bound class) with the loud raise threaded onto the A side so it
    * fires below the join: bracket a bounded metric slice (daily
    * rollups, eval batches), not a raw corpus. Unlike the trend
    * family no arithmetic pair count assumes unique ids (the cross
    * frame is exactly n_a·n_b rows whatever the ids), so ids only pin
    * rank determinism. Degenerate reads: an empty side → NULL
    * everything with honest counts; zero variance (all pooled values
    * tied) → NULL limits with the honest estimate; C ≥ N clamps to
    * the extreme differences (an honestly-wide interval is a finding
    * — "the data cannot bracket the shift"). NULL side/value/id rows
    * drop.
    *
    * Scale shape: two hash-aggs (sides, tie masses) + the guarded
    * cross join + one rank window over pairs — no corpus-wide rank
    * window at all. Output per group:
    * `n_a, n_b, n_pairs, shift, shift_lo, shift_hi`. */
  def hodgesLehmann(side: Column, value: Column, idField: String,
      groupCols: Seq[String] = Nil, maxN: Int = 10000,
      zCrit: Double = 1.96)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxN >= 2 && maxN <= 100000,
      s"maxN must be in [2, 100000], got $maxN")
    require(zCrit > 0.0 && zCrit <= 100.0,
      s"zCrit must be in (0, 100]: $zCrit")
    val grp = groupCols.map(col)
    val gkey = if (grp.isEmpty) lit(0) else struct(grp: _*)
    val base = df
      .filter(side.isNotNull && value.isNotNull &&
        col(idField).isNotNull)
      .select(gkey.as("__g"), side.cast("boolean").as("__a"),
        col(idField).as("__i"), value.cast("double").as("__x"))
    // the quadratic guard on the TOTAL group size, threaded onto the
    // A side so the raise fires below the cross join (the
    // pairSizeGuard contract)
    val sized = pairSizeGuard(base, "hodgesLehmann", maxN,
      "bracket a bounded slice")
    val sides = base.groupBy(col("__g"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"))
    // pooled tie masses: Σ(t³−t) as one exact decimal(38,0) hash-agg
    val tc = col("__tc").cast("decimal(38,0)")
    val ties = base.groupBy(col("__g"), col("__x"))
      .agg(count(lit(1)).as("__tc"))
      .groupBy(col("__g"))
      .agg(sum(tc * tc * tc - tc).as("__t3"))
    val stats = sized.join(sides, Seq("__g"))
      .join(ties, Seq("__g"), "left")
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = col("__n").cast("double")
    // the mannWhitneyU tie-corrected Var(U), spelled identically
    val varU = naD * nbD / lit(12.0) *
      ((nD + lit(1.0)) - coalesce(col("__t3"),
        lit(0).cast("decimal(38,0)")).cast("double") /
        (nD * (nD - lit(1.0))))
    val np = (col("n_a") * col("n_b")).as("__np")
    val withNp = stats.withColumn("__np", np)
    val npD = col("__np").cast("double")
    // C = zCrit·√Var(S) with Var(S) = 4·Var(U) — the theilSenCI
    // Gilbert construction applied to the cross-pair frame
    val cW = lit(zCrit) * sqrt(lit(4.0) * varU)
    val live = col("__np") > 0L && varU > 0.0
    val bounds = withNp.select(col("__g"), col("n_a"), col("n_b"),
      col("__np"),
      when(live, greatest(lit(1L),
        floor((npD - cW) / lit(2.0)).cast("long"))).as("__rlo"),
      when(live, least(col("__np"),
        floor((npD + cW) / lit(2.0)).cast("long") + lit(1L)))
        .as("__rhi"),
      // the theilSen median selection verbatim: both middle ranks
      floor((col("__np") + 1) / 2).cast("long").as("__md1"),
      (floor(col("__np") / 2).cast("long") + lit(1L)).as("__md2"))
    val a = base.filter(col("__a"))
      .join(sized.select(col("__g"), col("__n").as("__na")), Seq("__g"))
      .select(col("__g"), col("__i").as("__ia"),
        col("__x").as("__xa"), col("__na"))
    val b = base.filter(!col("__a"))
      .select(col("__g"), col("__i").as("__ib"),
        col("__x").as("__xb"))
    val pairs = a.join(b, Seq("__g"))
      .filter(col("__na") <= lit(maxN))
      .withColumn("__d", col("__xa") - col("__xb"))
    val wOrd = Window.partitionBy(col("__g"))
      .orderBy(col("__d"), col("__ia"), col("__ib"))
    val ranked = pairs
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
    val sel = ranked
      .join(bounds.select(col("__g"), col("__rlo"), col("__rhi"),
        col("__md1"), col("__md2")), Seq("__g"))
      .groupBy(col("__g"))
      .agg(min(when(col("__rn") === col("__rlo"), col("__d")))
          .as("__dlo"),
        min(when(col("__rn") === col("__rhi"), col("__d"))).as("__dhi"),
        min(when(col("__rn") === col("__md1"), col("__d"))).as("__dm1"),
        min(when(col("__rn") === col("__md2"), col("__d"))).as("__dm2"))
      // pinned: the theilSenCI note — one rank-window pass over the
      // n_a×n_b cross-pair frame instead of two (the closing
      // range-sort's sampling pass re-executed it; measured 2 × ~2 s
      // stages of the ~5 s sf0.1 cell). Bit-identical.
      .localCheckpoint()
    val out = bounds.join(sel, Seq("__g"), "left")
    val unpack = groupCols.map(c => col("__g").getField(c).as(c))
    out.select(unpack ++ Seq(col("n_a"), col("n_b"),
      col("__np").as("n_pairs"),
      ((col("__dm1") + col("__dm2")) / lit(2.0)).as("shift"),
      col("__dlo").as("shift_lo"), col("__dhi").as("shift_hi")): _*)
  }

  /** The shared pooled-rank per-variant frame of the k-sample rank
    * family ([[kruskalWallis]], [[dunnTest]]): NULL-dropped
    * (variant, value) rows, the pooled 2·rank carry and per-row t²−1
    * tie terms, aggregated to exact per-variant
    * `(__nv, __s2 = Σ2r, __ttv = Σ(t²−1))` — ONE definition so the
    * post-hoc's "same pooled ranks as the omnibus" promise is
    * structural, not textual (the [[friedmanRankFrames]] discipline;
    * review-caught duplication). */
  private def kwPooledPerVariant(variant: Column, value: Column,
      groupCols: Seq[String])(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val base = df
      .filter(variant.isNotNull && value.isNotNull)
      .select(grp :+ variant.cast("string").as("__v") :+
        value.as("__x"): _*)
    val wOrd = Window.partitionBy(grp: _*).orderBy(col("__x"))
    val wTie = Window.partitionBy(grp :+ col("__x"): _*)
    val ranked = base.select(grp ++ Seq(col("__v"),
      rank2Carry(wOrd, wTie).as("__r2"),
      (count(lit(1)).over(wTie) * count(lit(1)).over(wTie) - lit(1L))
        .cast("decimal(38,0)").as("__tt")): _*)
    ranked.groupBy(grp :+ col("__v"): _*)
      .agg(count(lit(1)).as("__nv"),
        sum(col("__r2")).as("__s2"),
        sum(col("__tt")).as("__ttv"))
  }

  /** Kruskal–Wallis H per group — the k-SAMPLE extension of
    * [[mannWhitneyU]]: does ANY of k variants' value distributions sit
    * apart? The one-way-ANOVA-on-ranks for A/B/n tests and per-source
    * quality comparisons, immune to the heavy tails that rule the
    * mean. Two samples reduce to Mann–Whitney exactly (H_corrected =
    * z², property-spec-pinned).
    *
    * Exactness: pooled tie-averaged ranks ride the shared integer
    * carry (`2·rank = 2·rank_min + t − 1`), so each variant's rank sum
    * `S2_v = Σ2r` and the tie mass `Σ(t³−t) = Σ_rows(t²−1)` are
    * order-free exact decimal(38,0) aggregations. H assembles as
    *   `H = 3/(N(N+1)) · Σ_v S2_v²/n_v − 3(N+1)`
    * (the 2× rank scale folds the classic 12/(N(N+1)) · ΣS_v²/n_v into
    * 3/(N(N+1)) · ΣS2_v²/n_v), the Σ_v a pinned float fold by variant
    * (k terms — variant cardinality, not corpus); the tie correction
    *   `h_corrected = H / (1 − Σ(t³−t)/(N³−N))`
    * carries both Σ(t³−t) and N³−N as exact integers into one final
    * division chain. No p-value (the no-libm doctrine): threshold
    * against χ²_{k−1} — 5.99 IS the 95% gate at k = 3. Degenerate
    * reads: k < 2 or N < 2 → NULL H; every value tied (correction
    * denominator 0) → NULL `h_corrected` with `h` = its honest 0-ish
    * value. NULL variant/value rows drop.
    *
    * Scale shape: one pooled `rank()` window per group partition (the
    * [[mannWhitneyU]] cost class), one hash-agg to variants, one
    * k-sized fold. Reports both H-based effect sizes under their
    * correct names: `eps_sq = H_c/(N−1)` (Kelley's ε²) and
    * `eta_sq_h = (H_c − k + 1)/(N − k)` (the rank η², 0 at the null
    * expectation E[H] = k−1; NULL when N ≤ k or the tie correction
    * degenerates). Output per group:
    * `n, k, h, h_corrected, eps_sq, eta_sq_h`. */
  def kruskalWallis(variant: Column, value: Column,
      groupCols: Seq[String] = Nil,
      exactOrder: Boolean = true)(df: DataFrame): DataFrame = {
    val grp = groupCols.map(col)
    val perVar = kwPooledPerVariant(variant, value, groupCols)(df)
    // Σ_v S2_v²/n_v: k-sized pinned fold (variant cardinality)
    val term = (col("__s2").cast("double") * col("__s2").cast("double")) /
      col("__nv").cast("double")
    val agg =
      (if (grp.isEmpty) perVar.groupBy() else perVar.groupBy(grp: _*))
        .agg(sum(col("__nv")).as("n"),
          count(lit(1)).as("k"),
          sum(col("__ttv")).as("__ties"),
          pinnedFold(col("__v"), term, exactOrder).as("__ssum"))
    val nD = col("n").cast("double")
    val h = lit(3.0) / (nD * (nD + lit(1.0))) * col("__ssum") -
      lit(3.0) * (nD + lit(1.0))
    // 1 − Σ(t³−t)/(N³−N), both legs exact integers until the division
    val n38 = col("n").cast("decimal(38,0)")
    val cube = n38 * n38 * n38 - n38
    val corr = lit(1.0) -
      col("__ties").cast("double") / cube.cast("double")
    val hc = h / corr
    agg.select(grp ++ Seq(col("n"), col("k"),
      when(col("k") >= 2 && col("n") >= 2, h).as("h"),
      when(col("k") >= 2 && col("n") >= 2 && corr > 0.0, hc)
        .as("h_corrected"),
      // BOTH H-based effect sizes, each under its CORRECT name
      // (review-caught: (H−k+1)/(N−k) is the rank eta², not epsilon² —
      // a consumer cross-checking `eps_sq` against the conventional
      // ε² = H·(N+1)/(N²−1) = H/(N−1) would read a systematic
      // mismatch): eps_sq is Kelley's ε², eta_sq_h the η²_H that is 0
      // at the null expectation E[H] = k−1. Both on the tie-corrected
      // H, the op's primary statistic.
      when(col("k") >= 2 && col("n") >= 2 && corr > 0.0,
        hc / (col("n").cast("double") - lit(1.0))).as("eps_sq"),
      when(col("k") >= 2 && col("n") > col("k") && corr > 0.0,
        (hc - (col("k").cast("double") - lit(1.0))) /
          (col("n").cast("double") - col("k").cast("double")))
        .as("eta_sq_h")): _*)
  }

  /** Dunn's post-hoc pairwise test per group — the step AFTER
    * [[kruskalWallis]] rejects: KW says "SOME arm moved"; Dunn says
    * WHICH, the first question every eval-suite user asks. For each
    * ordered variant pair (i < j), the z of the pooled-rank mean gap
    *   `z_ij = (R̄_i − R̄_j) / √(V·(1/n_i + 1/n_j))`,
    *   `V = (N(N+1) − Σ(t³−t)/(N−1)) / 12`
    * — the ranks are the SAME pooled tie-averaged ranks KW computed
    * (one `rank()` window, the shared 2·rank carry), so the op is one
    * window + one hash-agg + a k²-bounded broadcastable pair frame
    * (the [[krippendorffAlphaWeighted]] pair-frame pattern; `maxK`
    * rides the totals frame joined under the pair join, so a
    * continuous column passed as "variant" raises loudly before k²
    * enumerates).
    *
    * Exactness: the z numerator carries as the exact integer
    * `S2_i·n_j − S2_j·n_i` (decimal(38,0) 2·rank sums), the variance
    * numerator as the exact `(N³−N) − Σ(t³−t)`; float enters at two
    * divisions and one sqrt in a fixed order, mirrored verbatim in the
    * oracle. Two variants reduce EXACTLY to [[mannWhitneyU]]'s z
    * (z_Dunn = z_MWU algebraically — property-spec-pinned to float
    * noise). No p-value (the no-libm doctrine): `reject` gates at
    * `zCrit` per pair — 1.96 is the per-pair 95% gate; pass the
    * Bonferroni-adjusted critical value for family-wise control, or
    * feed the emitted family into [[bhCorrect]] with externally
    * computed p's (two-sided normal p is strictly decreasing in |z|,
    * so the BH ordering IS the |z|-descending ordering). Degenerate
    * reads: every value tied (variance numerator 0) or N < 2 → NULL z
    * with `reject` false (no evidence is not a rejection). NULL
    * variant/value rows drop.
    *
    * Output per (group, pair): `variant_a, variant_b, n_a, n_b,
    * mean_rank_a, mean_rank_b, z, reject` (pairs in variant string
    * order, a < b). */
  def dunnTest(variant: Column, value: Column,
      groupCols: Seq[String] = Nil,
      zCrit: Double = 1.96, maxK: Int = 64)(df: DataFrame): DataFrame = {
    require(zCrit > 0.0 && zCrit <= 100.0,
      s"zCrit must be in (0, 100]: $zCrit")
    require(maxK >= 2 && maxK <= 1024,
      s"maxK must be in [2, 1024], got $maxK")
    val grp = groupCols.map(col)
    val perVar = kwPooledPerVariant(variant, value, groupCols)(df)
      .localCheckpoint() // k rows per group; feeds totals AND the pairs
    val totals =
      (if (grp.isEmpty) perVar.groupBy() else perVar.groupBy(grp: _*))
        .agg(sum(col("__nv")).as("__n0"),
          count(lit(1)).as("__k0"),
          sum(col("__ttv")).as("__ties"))
        // the k guard rides __n — the column EVERY downstream pair
        // statistic reads (z's variance leg, vnum) — so it cannot be
        // pruned away and an oversized variant set raises on the
        // k-row totals frame, below the k² pair join (the
        // krippendorffAlphaWeighted guard-rides-the-read discipline)
        .withColumn("__n",
          when(col("__k0") > maxK, raise_error(concat(
            lit("dunnTest: "), col("__k0").cast(StringType),
            lit(s" distinct variants > maxK=$maxK — the pair frame" +
              " is k^2; is the variant column really categorical?")))
            .cast("long"))
            .otherwise(col("__n0")))
        .drop("__k0").drop("__n0")
    val pa = perVar.select(grp ++ Seq(col("__v").as("variant_a"),
      col("__nv").as("n_a"), col("__s2").as("__s2a")): _*)
    val paT =
      (if (grp.isEmpty) pa.crossJoin(broadcast(totals))
       else pa.join(totals, groupCols))
    val pb = perVar.select(grp ++ Seq(col("__v").as("variant_b"),
      col("__nv").as("n_b"), col("__s2").as("__s2b")): _*)
    val pairs =
      (if (grp.isEmpty) paT.crossJoin(pb) else paT.join(pb, groupCols))
        .filter(col("variant_a") < col("variant_b"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = col("__n").cast("double")
    // exact integer legs: the rank-gap numerator and the tie-corrected
    // variance numerator (N³−N) − Σ(t³−t)
    val num = col("__s2a") * d38(col("n_b")) -
      col("__s2b") * d38(col("n_a"))
    val n38 = d38(col("__n"))
    val vnum = (n38 * n38 * n38 - n38) - col("__ties")
    val diff = num.cast("double") / (lit(2.0) * naD * nbD)
    val sigma2 = vnum.cast("double") * (naD + nbD) /
      (lit(12.0) * (nD - lit(1.0)) * naD * nbD)
    val zero38 = lit(0).cast("decimal(38,0)")
    val z = when(col("__n") >= 2 && vnum > zero38, diff / sqrt(sigma2))
    pairs.select(grp ++ Seq(col("variant_a"), col("variant_b"),
      col("n_a"), col("n_b"),
      (col("__s2a").cast("double") / (lit(2.0) * naD)).as("mean_rank_a"),
      (col("__s2b").cast("double") / (lit(2.0) * nbD)).as("mean_rank_b"),
      z.as("z"),
      coalesce(abs(z) > lit(zCrit), lit(false)).as("reject")): _*)
  }

  /** Jonckheere–Terpstra ordered-alternative trend test per group —
    * the dose-response question LLM evals actually ask ("does the
    * metric improve MONOTONICALLY with model size / data fraction /
    * training steps?"), where [[kruskalWallis]] wastes power by
    * ignoring the variant ORDER. Variants order by their natural type
    * order (pass an orderable column — the cohort index, the
    * parameter count); `J = Σ_{i<j} U_ij` sums the Mann–Whitney count
    * of each ordered pair, large when later variants tend larger.
    *
    * Exactness: each pair's `2U_ij = S2_j − n_j(n_j+1)` rides the
    * shared 2·rank carry over the pair's pooled frame (rank sums of
    * sample j within pool i∪j — the within-sample rank mass cancels
    * algebraically, so no cross-sample counting join exists). The
    * null moments are the exact-integer Hollander–Wolfe forms:
    * `4μ = N² − Σn_i²` and the tie-corrected
    *   `σ² = A/72 + Σn(n−1)(n−2)·Σt(t−1)(t−2)/(36N(N−1)(N−2))
    *        + Σn(n−1)·Σt(t−1)/(8N(N−1))`,
    *   `A = N(N−1)(2N+5) − Σn(n−1)(2n+5) − Σt(t−1)(2t+5)`
    * (t = pooled tie-group sizes) — every Σ an exact decimal(38,0)
    * hash-agg; float enters at the three variance divisions (the two
    * cross products exceed decimal range, so they multiply as
    * doubles of exact integers) and the one final
    * `z = (4J − 4μ)/(4σ)`. No p-value (no-libm): 1.64/1.96 are the
    * one/two-sided 95% gates. Two variants reduce EXACTLY to
    * [[mannWhitneyU]]'s z on the later side, ties included; reversing
    * the variant order negates z (both property-spec-pinned).
    * Degenerate reads: k < 2, N < 2, or zero variance (all values
    * tied) → NULL z with honest counts. NULL variant/value rows drop.
    *
    * Scale shape: the corpus materializes once (localCheckpoint) and
    * replicates (k−1)× through two broadcast equi-joins against the
    * k²-bounded ordered-pair frame (maxK-guarded TWICE: a guard
    * FILTER on the pair frame itself fires when the broadcast
    * materializes — i.e. BEFORE the replication runs — and the
    * consumed `__n` in the totals frame backstops the readout, the
    * [[dunnTest]] discipline), then ONE rank window per
    * (group, pair) partition and three hash-aggs. The replication
    * factor is the op's documented bill — k is variant cardinality,
    * not corpus. Output per group: `n, k, j_stat, mu, z`. */
  def jonckheereTerpstra(variant: Column, value: Column,
      groupCols: Seq[String] = Nil, maxK: Int = 32)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxK >= 2 && maxK <= 256,
      s"maxK must be in [2, 256], got $maxK")
    val grp = groupCols.map(col)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val base = df
      .filter(variant.isNotNull && value.isNotNull)
      .select(grp :+ variant.as("__v") :+ value.as("__x"): _*)
      .localCheckpoint() // feeds perVar, the tie frame, and both pools
    val perVar = base.groupBy(grp :+ col("__v"): _*)
      .agg(count(lit(1)).as("__nv"))
      .localCheckpoint() // k rows per group; feeds totals AND the pairs
    val nv38 = d38(col("__nv"))
    val totals =
      (if (grp.isEmpty) perVar.groupBy() else perVar.groupBy(grp: _*))
        .agg(sum(col("__nv")).as("__n0"),
          count(lit(1)).as("k"),
          sum(nv38 * nv38).as("__sn_sq"),
          sum(nv38 * (nv38 - 1) * (nv38 * 2 + 5)).as("__sn25"),
          sum(nv38 * (nv38 - 1) * (nv38 - 2)).as("__sn3"),
          sum(nv38 * (nv38 - 1)).as("__sn2"))
        .withColumn("__n",
          when(col("k") > maxK, raise_error(concat(
            lit("jonckheereTerpstra: "), col("k").cast(StringType),
            lit(s" distinct variants > maxK=$maxK — the corpus" +
              " replicates (k-1)x; is the variant column really an" +
              " ordered dose?"))).cast("long"))
            .otherwise(col("__n0")))
        .drop("__n0")
    val t38 = d38(col("__t"))
    val tieAgg = base.groupBy(grp :+ col("__x"): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(grp: _*)
      .agg(sum(t38 * (t38 - 1) * (t38 * 2 + 5)).as("__st25"),
        sum(t38 * (t38 - 1) * (t38 - 2)).as("__st3"),
        sum(t38 * (t38 - 1)).as("__st2"))
    val pa = perVar.select(grp :+ col("__v").as("__vi"): _*)
    val pb = perVar.select(grp :+ col("__v").as("__vj"): _*)
    // the guard FILTER rides the pair frame itself (not just the
    // totals join at the end): the pool replication below broadcasts
    // `pairs`, so materializing it forces the guarded `__n` — an
    // oversized variant set raises on the k-row totals frame BEFORE
    // the corpus replicates (k-1)x, not merely before the final
    // readout (r18 ADVICE: a projection-only guard bounds nothing a
    // filter doesn't reach). A Filter is never pruned; `__ng >= 0` is
    // not foldable because the raise_error branch blocks it.
    val guardN = totals.select(grp :+ col("__n").as("__ng"): _*)
    val pairs =
      (if (grp.isEmpty) pa.crossJoin(pb) else pa.join(pb, groupCols))
        .filter(col("__vi") < col("__vj"))
        .transform(p =>
          if (grp.isEmpty) p.crossJoin(broadcast(guardN))
          else p.join(broadcast(guardN), groupCols))
        .filter(col("__ng") >= 0L)
        .drop("__ng")
    val poolI = base.join(broadcast(pairs
      .select(grp ++ Seq(col("__vi").as("__v"), col("__vj")): _*)),
      groupCols :+ "__v")
      .select(grp ++ Seq(col("__v").as("__vi"), col("__vj"),
        col("__x"), lit(false).as("__j")): _*)
    val poolJ = base.join(broadcast(pairs
      .select(grp ++ Seq(col("__vi"), col("__vj").as("__v")): _*)),
      groupCols :+ "__v")
      .select(grp ++ Seq(col("__vi"), col("__v").as("__vj"),
        col("__x"), lit(true).as("__j")): _*)
    val pool = poolI.unionByName(poolJ)
    val wOrd = Window.partitionBy(grp ++ Seq(col("__vi"), col("__vj")): _*)
      .orderBy(col("__x"))
    val wTie = Window.partitionBy(
      grp ++ Seq(col("__vi"), col("__vj"), col("__x")): _*)
    val ranked = pool.select(grp ++ Seq(col("__vi"), col("__vj"),
      col("__j"), rank2Carry(wOrd, wTie).as("__r2")): _*)
    val zero38 = lit(0).cast("decimal(38,0)")
    val perPair = ranked.groupBy(grp ++ Seq(col("__vi"), col("__vj")): _*)
      .agg(sum(when(col("__j"), 1L).otherwise(0L)).as("__njp"),
        sum(when(col("__j"), col("__r2")).otherwise(zero38)).as("__s2j"))
      // 2U_ij exact: the within-sample rank mass n_j(n_j+1) cancels
      .withColumn("__u2",
        col("__s2j") - d38(col("__njp")) * d38(col("__njp") + 1))
    val jAgg =
      (if (grp.isEmpty) perPair.groupBy() else perPair.groupBy(grp: _*))
        .agg(sum(col("__u2")).as("__j2"))
    val joined =
      (if (grp.isEmpty) totals.crossJoin(tieAgg).crossJoin(jAgg)
       else totals.join(tieAgg, groupCols, "left")
         .join(jAgg, groupCols, "left"))
    val n38 = d38(col("__n"))
    val nD = col("__n").cast("double")
    // 4(J − μ) exact: 4J = 2·(2J), 4μ = N² − Σn²
    val num4 = lit(2).cast("decimal(38,0)") * col("__j2") -
      (n38 * n38 - col("__sn_sq"))
    val aNum = n38 * (n38 - 1) * (n38 * 2 + 5) -
      col("__sn25") - col("__st25")
    // the two cross products exceed decimal(38,0) range at corpus
    // scale — they multiply as DOUBLES of exact integers (the oracle
    // mirrors the same spelling); each term guards its own zero
    // denominator (the Σ legs are identically 0 there anyway)
    val varB = when(nD > 2.0,
      col("__sn3").cast("double") * col("__st3").cast("double") /
        (lit(36.0) * nD * (nD - lit(1.0)) * (nD - lit(2.0))))
      .otherwise(lit(0.0))
    val varC = when(nD > 1.0,
      col("__sn2").cast("double") * col("__st2").cast("double") /
        (lit(8.0) * nD * (nD - lit(1.0))))
      .otherwise(lit(0.0))
    val variance = aNum.cast("double") / lit(72.0) + varB + varC
    joined.select(grp ++ Seq(col("__n").as("n"), col("k"),
      when(col("__j2").isNotNull,
        col("__j2").cast("double") / lit(2.0)).as("j_stat"),
      ((n38 * n38 - col("__sn_sq")).cast("double") / lit(4.0)).as("mu"),
      when(col("k") >= 2 && col("__n") >= 2 && variance > 0.0,
        num4.cast("double") / (lit(4.0) * sqrt(variance))).as("z")): _*)
  }

  /** Log-rank (Mantel–Cox) two-sample survival test per group — did
    * side A churn FASTER, the whole-curve question beside
    * [[graft.ops.WindowOps.kaplanMeier]]'s per-time estimate (compare
    * retention between two cohorts/treatments without picking a
    * horizon). At each distinct event time, with n_t at risk (n_at on
    * side A), d_t total deaths and d_at on A, the observed-minus-
    * expected and hypergeometric-variance terms
    *   `O−E += (d_at·n_t − d_t·n_at)/n_t`
    *   `V   += d_t·n_at·(n_t−n_at)·(n_t−d_t) / (n_t²·(n_t−1))`
    * and `z = Σ(O−E)/√ΣV` — |z| ≥ 1.96 IS the 95% gate (no p-value,
    * the no-libm doctrine; z² is the textbook log-rank χ²₁).
    * Censored subjects leave the risk set at their time without
    * counting as deaths (the [[graft.ops.WindowOps.kaplanMeier]]
    * censoring contract verbatim).
    *
    * Exactness: every count is an exact integer (at-risk via one
    * total-minus-exclusive-cumsum window over the distinct-time
    * cells); each term's numerators carry as decimal(38,0) products
    * into ONE division per term, and the two Σ are TIME-PINNED float
    * folds (`exactOrder=false` = plain sums for production). A time
    * with no deaths contributes exact 0.0 to both sums; n_t = 1
    * guards the variance denominator. Degenerate reads: zero variance
    * (no deaths anywhere, or one side empty throughout) → NULL z with
    * honest counts. Swapping the sides negates z exactly
    * (property-spec-pinned). NULL side/time/censored rows drop.
    *
    * Scale shape: one hash-agg to (group, time) cells, two window
    * passes over distinct times, one fold — the
    * [[graft.ops.WindowOps.kaplanMeier]] cost class (quantize time so
    * the per-group distinct-time sequence stays bounded). Also
    * reports Pike's hazard-ratio estimate `(O_a/E_a)/(O_b/E_b)` — the
    * effect SIZE beside z ("side A churns 1.4× as fast"), free off
    * the folded sums; a zero-death side or non-positive expected
    * reads NULL (no finite rate ratio exists, not 0 or ∞). Output per
    * group: `n_a, n_b, deaths_a, deaths_b, o_minus_e, hazard_ratio,
    * z`. */
  def logRankTest(side: Column, time: Column, censored: Column,
      groupCols: Seq[String] = Nil,
      exactOrder: Boolean = true)(df: DataFrame): DataFrame =
    logRankImpl(side, time, censored, groupCols, exactOrder,
      weighted = false, oeName = "o_minus_e")(df)

  /** Gehan–Breslow weighted log-rank per group — the early-vs-late
    * churn sensitivity, the first follow-up after a [[logRankTest]]
    * verdict: each distinct time's O−E and V terms weight by the
    * total at-risk `n_t`, so EARLY differences (where nearly everyone
    * is still at risk) dominate and late-tail noise (tiny risk sets)
    * fades — a curve pair that crosses can read null on Mantel–Cox
    * and loud here, and vice versa; run both and compare.
    *
    * ONE shared terms-frame definition with [[logRankTest]] (the
    * `signZOf` discipline — the cells, at-risk windows, censoring
    * contract, and degenerate reads are STRUCTURALLY the unweighted
    * op's; weighting only swaps the two per-time term dags), and the
    * weight CANCELS into exact integers: `w_t·(O−E)_t =
    * d_at·n_t − d_t·n_at` needs NO division at all, and
    * `w_t²·V_t = d_t·n_at·(n_t−n_at)·(n_t−d_t)/(n_t−1)` keeps one.
    * `z = Σw(O−E)/√(Σw²V)` — |z| ≥ 1.96 IS the 95% gate (no-libm).
    * At a single distinct event time the weight is a common factor
    * and z equals [[logRankTest]]'s exactly (property-spec-pinned);
    * swapping sides negates z. Output per group:
    * `n_a, n_b, deaths_a, deaths_b, w_o_minus_e, z`. */
  def gehanBreslowTest(side: Column, time: Column, censored: Column,
      groupCols: Seq[String] = Nil,
      exactOrder: Boolean = true)(df: DataFrame): DataFrame =
    logRankImpl(side, time, censored, groupCols, exactOrder,
      weighted = true, oeName = "w_o_minus_e")(df)

  /** The shared two-sample log-rank dag ([[logRankTest]],
    * [[gehanBreslowTest]], [[logRankStratified]]): (group[, stratum],
    * time) cells, exact at-risk via total-minus-exclusive-cumsum
    * windows, per-time O−E and hypergeometric-variance terms
    * (weighted by n_t when `weighted` — the n_t / n_t² factors cancel
    * into the exact-integer numerators), (stratum-,)time-pinned
    * folds, one final z. ONE definition so the weighted and
    * stratified variants' "same censoring contract, same degenerate
    * reads" promise is structural, not textual. When `strataCols` is
    * non-empty the whole per-time machinery runs WITHIN each stratum
    * (cells, at-risk windows, term dags) and only the final fold sums
    * across strata — the textbook stratified Mantel–Cox; empty
    * `strataCols` leaves every frame byte-identical to the r19 dag
    * (no constant key is ever added). */
  private def logRankImpl(side: Column, time: Column, censored: Column,
      groupCols: Seq[String], exactOrder: Boolean, weighted: Boolean,
      oeName: String, strataCols: Seq[String] = Nil)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val stSel: Seq[Column] =
      if (strataCols.isEmpty) Nil
      else Seq(struct(strataCols.map(col): _*).as("__st"))
    val stKey: Seq[Column] =
      if (strataCols.isEmpty) Nil else Seq(col("__st"))
    val stFilter = strataCols
      .map(col(_).isNotNull)
      .foldLeft(lit(true))(_ && _)
    val base = df
      .filter(side.isNotNull && time.isNotNull && censored.isNotNull &&
        stFilter)
      .select(grp ++ stSel ++ Seq(side.cast("boolean").as("__a"),
        time.as("__t"), censored.cast("boolean").as("__c")): _*)
    val cells = base.groupBy(grp ++ stKey :+ col("__t"): _*)
      .agg(sum(when(col("__a") && !col("__c"), 1L).otherwise(0L))
        .as("__da"),
        sum(when(col("__a") && col("__c"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a") && !col("__c"), 1L).otherwise(0L))
          .as("__db"),
        sum(when(!col("__a") && col("__c"), 1L).otherwise(0L))
          .as("__cb"))
    val wAll = Window.partitionBy(grp ++ stKey: _*)
    val wCum = Window.partitionBy(grp ++ stKey: _*).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val remA = col("__da") + col("__ca")
    val remB = col("__db") + col("__cb")
    // at-risk = side total minus everything that died/censored at
    // STRICTLY earlier times (exclusive running frame — subjects at t
    // are still at risk at t; per stratum when stratified)
    val terms = cells.select(grp ++ stKey ++ Seq(col("__t"), col("__da"),
      col("__db"), col("__ca"), col("__cb"),
      (sum(remA).over(wAll) -
        coalesce(sum(remA).over(wCum), lit(0L))).as("__na"),
      (sum(remB).over(wAll) -
        coalesce(sum(remB).over(wCum), lit(0L))).as("__nb")): _*)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val n = col("__na") + col("__nb")
    val d = col("__da") + col("__db")
    val nD = n.cast("double")
    val oeNum = d38(col("__da")) * d38(n) - d38(d) * d38(col("__na"))
    val oeTerm = when(d > 0L && n > 1L,
      if (weighted) oeNum.cast("double")
      else oeNum.cast("double") / nD).otherwise(lit(0.0))
    val vNum = d38(d) * d38(col("__na")) * d38(n - col("__na")) *
      d38(n - d)
    val vTerm = when(d > 0L && n > 1L,
      if (weighted) vNum.cast("double") / (nD - lit(1.0))
      else vNum.cast("double") / (nD * nD * (nD - lit(1.0))))
      .otherwise(lit(0.0))
    val withTerms = terms
      .withColumn("__oe", oeTerm).withColumn("__v", vTerm)
    // the fold pin carries the stratum FIRST when stratified — the
    // per-stratum term runs stay contiguous, so one stratum reduces
    // to the unstratified fold order exactly
    val pin =
      if (strataCols.isEmpty) col("__t")
      else struct(col("__st"), col("__t"))
    val strataAggs: Seq[Column] =
      if (strataCols.isEmpty) Nil
      else Seq(countDistinct(col("__st")).as("n_strata"))
    val agg =
      (if (grp.isEmpty) withTerms.groupBy()
       else withTerms.groupBy(grp: _*))
        .agg(sum(col("__da") + col("__ca")).as("n_a"),
          (Seq(sum(col("__db") + col("__cb")).as("n_b"),
            sum(col("__da")).as("deaths_a"),
            sum(col("__db")).as("deaths_b")) ++ strataAggs ++ Seq(
            pinnedFold(pin, col("__oe"), exactOrder).as("__osum"),
            pinnedFold(pin, col("__v"), exactOrder).as("__vsum"))): _*)
    // Pike's hazard-ratio estimate (O_a/E_a)/(O_b/E_b) — the effect
    // SIZE beside the unweighted test's z ("side A churns 1.4× as
    // fast"), with E_a = O_a − Σ(O−E) and E_b = O_b + Σ(O−E) read off
    // the already-folded sums. Meaningful only on the UNWEIGHTED
    // Mantel–Cox sums (the weighted Σw(O−E) is not a count); a
    // zero-death side or a non-positive expected reads NULL (no
    // finite rate ratio exists, not 0 or ∞).
    val eA = col("deaths_a").cast("double") - col("__osum")
    val eB = col("deaths_b").cast("double") + col("__osum")
    val hr =
      if (weighted) Nil
      else Seq(when(col("deaths_a") > 0L && col("deaths_b") > 0L &&
          eA > 0.0 && eB > 0.0,
        (col("deaths_a").cast("double") / eA) /
          (col("deaths_b").cast("double") / eB)).as("hazard_ratio"))
    val stOut: Seq[Column] =
      if (strataCols.isEmpty) Nil else Seq(col("n_strata"))
    agg.select(grp ++ Seq(col("n_a"), col("n_b"), col("deaths_a"),
      col("deaths_b")) ++ stOut ++ Seq(col("__osum").as(oeName)) ++
      hr ++ Seq(
      when(col("__vsum") > 0.0, col("__osum") / sqrt(col("__vsum")))
        .as("z")): _*)
  }

  /** Stratified log-rank test per group — the CONFOUNDER-ADJUSTED
    * churn comparison, the first follow-up question after a
    * [[logRankTest]] verdict: "is the churn gap real, or just the
    * platform mix?" A marginal two-sample comparison confounds the
    * side effect with any covariate whose distribution differs
    * between sides; the stratified Mantel–Cox computes the O−E and
    * hypergeometric-variance terms WITHIN each stratum (each
    * stratum's own risk sets, its own distinct-time sequence — a
    * stratum is its own little log-rank) and sums the per-stratum
    * folds into ONE z:
    *   `z = Σ_s Σ_t (O−E)_st / √(Σ_s Σ_t V_st)`
    * — sides are only ever compared against same-stratum peers, so a
    * covariate that is constant within strata cannot move the
    * statistic at all.
    *
    * The whole dag is the [[logRankTest]] `logRankImpl` definition
    * with the stratum struct folded into the cells/window keys —
    * censoring contract, exact-integer term numerators, degenerate
    * reads all STRUCTURAL, and one stratum reduces to
    * [[logRankTest]] EXACTLY (same cells, same fold order —
    * spec-pinned to zero tolerance). A stratum where one side is
    * empty contributes exact-0 terms (d_a·n = d·n_a when n_a = 0 on
    * every factor — spec-pinned): it carries no comparative
    * information, not noise. Pike's hazard ratio generalizes off the
    * same summed folds (the stratum-adjusted rate ratio). NULL
    * side/time/censored/stratum rows drop. Scale shape: one hash-agg
    * to (group, stratum, time) cells, per-stratum windows, one fold —
    * the [[logRankTest]] cost class with strata multiplying the CELL
    * count only (quantize time so per-(group, stratum) distinct times
    * stay bounded). Output per group: `n_a, n_b, deaths_a, deaths_b,
    * n_strata, o_minus_e, hazard_ratio, z`. */
  def logRankStratified(side: Column, time: Column, censored: Column,
      strataCols: Seq[String], groupCols: Seq[String] = Nil,
      exactOrder: Boolean = true)(df: DataFrame): DataFrame = {
    require(strataCols.nonEmpty,
      "strataCols must be non-empty — use logRankTest for the " +
        "unstratified comparison")
    logRankImpl(side, time, censored, groupCols, exactOrder,
      weighted = false, oeName = "o_minus_e",
      strataCols = strataCols)(df)
  }

  /** k-sample log-rank per group — [[logRankTest]] when there are k
    * release cohorts to compare at once (the real shape of a cohort
    * analysis), on the SAME (group, time) cells doctrine. At each
    * distinct time with n_t at risk (n_vt on variant v) and d_t total
    * deaths, each variant accumulates the observed-minus-expected and
    * its DIAGONAL covariance term
    *   `O_v−E_v += (d_vt·n_t − d_t·n_vt)/n_t`
    *   `V_v    += d_t·n_vt·(n_t−n_vt)·(n_t−d_t) / (n_t²·(n_t−1))`
    * — the [[logRankTest]] term dags verbatim with side → variant, so
    * k = 2 reduces to the two-sample z EXACTLY (the variant's V_v IS
    * the full hypergeometric variance there; property-spec-pinned to
    * zero tolerance — identical term sequence, identical fold).
    *
    * Statistic choice, documented per the two standard options: the
    * per-variant readout is `z_v = (O_v−E_v)/√V_v` — WHICH arm
    * deviates from the pooled curve, each against its exact diagonal
    * variance (the arms are k-correlated: Σ(O_v−E_v) ≡ 0, so the k
    * z's are not independent); the omnibus gate is the TEXTBOOK
    * approximation `χ² = Σ_v (O_v−E_v)²/E_v` against χ²_{k−1}
    * (Kleinbaum–Klein's standard form — slightly conservative vs the
    * full (k−1)×(k−1) covariance inverse, which would buy a matrix
    * inversion per group for a correction that vanishes as risk sets
    * grow; a variant with E_v = 0 has O_v = 0 and contributes exact
    * 0). `reject` gates at the 95% χ²_{k−1} critical value picked BY
    * THE OBSERVED k from a stored df 1..8 quantile table (3.841,
    * 5.991, 7.815, 9.488, 11.070, 12.592, 14.067, 15.507 — data, not
    * libm; the r19 ADVICE fix for the fixed-crit default that was
    * anti-conservative at k ≥ 4), so the gate is df-correct whatever
    * k the data carries; k − 1 > 8 reads NULL `reject` (no stored
    * gate — χ² still reported for the consumer's own quantile). Pass
    * `chi2Crit = Some(c)` to override with an explicit critical
    * value (a different α, a df past the table) — the caller then
    * owns the df match. Degenerate reads: no deaths anywhere or
    * k < 2 → NULL χ² with honest counts; zero V_v → NULL z_v.
    * Censoring contract = [[logRankTest]] verbatim. NULL
    * variant/time/censored rows drop.
    *
    * Scale shape: one hash-agg to (group, variant, time) cells, a
    * dense |T|·k grid per group (CELLS-sized — distinct times ×
    * variant cardinality, never corpus-sized; `maxK`-guarded on the
    * variants side of the grid join, so a continuous column passed as
    * "variant" raises before the grid materializes, and the guarded k
    * rides the consumed output column), two window passes, and
    * per-variant time-pinned folds + one k-sized variant-pinned fold.
    * Output per (group, variant): `variant, n, deaths, expected,
    * o_minus_e, z, k, chi2, reject` (k/chi2/reject repeat per row —
    * the group-level verdict beside each arm's readout). */
  def logRankK(variant: Column, time: Column, censored: Column,
      groupCols: Seq[String] = Nil, exactOrder: Boolean = true,
      maxK: Int = 32, chi2Crit: Option[Double] = None)(df: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxK >= 2 && maxK <= 256,
      s"maxK must be in [2, 256], got $maxK")
    chi2Crit.foreach(c => require(c > 0.0 && c <= 1000.0,
      s"chi2Crit must be in (0, 1000]: $c"))
    val grp = groupCols.map(col)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val base = df
      .filter(variant.isNotNull && time.isNotNull && censored.isNotNull)
      .select(grp :+ variant.cast("string").as("__v") :+
        time.as("__t") :+ censored.cast("boolean").as("__c"): _*)
    val cells = base.groupBy(grp ++ Seq(col("__v"), col("__t")): _*)
      .agg(sum(when(!col("__c"), 1L).otherwise(0L)).as("__d"),
        sum(when(col("__c"), 1L).otherwise(0L)).as("__cn"))
      .localCheckpoint() // feeds the variant list, the grid, AND itself
    val perVar = cells.select(grp :+ col("__v"): _*).distinct()
    val totals =
      (if (grp.isEmpty) perVar.groupBy() else perVar.groupBy(grp: _*))
        .agg(count(lit(1)).as("__k0"))
        // the k guard rides __k — the column the output's k/chi2 read —
        // and is ALSO filtered on the grid's variant side below, so an
        // oversized variant set raises before the |T|·k grid builds
        .withColumn("__k",
          when(col("__k0") > maxK, raise_error(concat(
            lit("logRankK: "), col("__k0").cast(StringType),
            lit(s" distinct variants > maxK=$maxK — the time-grid is" +
              " |T|*k; is the variant column really categorical?")))
            .cast("long"))
            .otherwise(col("__k0")))
        .drop("__k0")
    val guardK = totals.select(grp :+ col("__k").as("__kg"): _*)
    val variants =
      (if (grp.isEmpty) perVar.crossJoin(broadcast(guardK))
       else perVar.join(broadcast(guardK), groupCols))
        .filter(col("__kg") >= 0L).drop("__kg")
    val times = cells.select(grp :+ col("__t"): _*).distinct()
    val grid =
      (if (grp.isEmpty) times.crossJoin(variants)
       else times.join(variants, groupCols))
    val gc = grid.join(cells, groupCols ++ Seq("__v", "__t"), "left")
      .select(grp ++ Seq(col("__v"), col("__t"),
        coalesce(col("__d"), lit(0L)).as("__d"),
        coalesce(col("__cn"), lit(0L)).as("__cn")): _*)
    val wVarAll = Window.partitionBy(grp :+ col("__v"): _*)
    val wVarCum = Window.partitionBy(grp :+ col("__v"): _*)
      .orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rem = col("__d") + col("__cn")
    // at-risk per variant = variant total minus strictly-earlier
    // departures (the logRankImpl exclusive-frame contract)
    val atRisk = gc.select(grp ++ Seq(col("__v"), col("__t"), col("__d"),
      col("__cn"),
      (sum(rem).over(wVarAll) -
        coalesce(sum(rem).over(wVarCum), lit(0L))).as("__nv")): _*)
    val wTime = Window.partitionBy(grp :+ col("__t"): _*)
    val withTot = atRisk
      .withColumn("__nt", sum(col("__nv")).over(wTime))
      .withColumn("__dt", sum(col("__d")).over(wTime))
    val ntD = col("__nt").cast("double")
    val oeTerm = when(col("__dt") > 0L && col("__nt") > 1L,
      (d38(col("__d")) * d38(col("__nt")) -
        d38(col("__dt")) * d38(col("__nv")))
        .cast("double") / ntD).otherwise(lit(0.0))
    val vTerm = when(col("__dt") > 0L && col("__nt") > 1L,
      (d38(col("__dt")) * d38(col("__nv")) *
        d38(col("__nt") - col("__nv")) * d38(col("__nt") - col("__dt")))
        .cast("double") / (ntD * ntD * (ntD - lit(1.0))))
      .otherwise(lit(0.0))
    val withTerms = withTot
      .withColumn("__oe", oeTerm).withColumn("__vv", vTerm)
    val perArm = withTerms.groupBy(grp :+ col("__v"): _*)
      .agg(sum(col("__d") + col("__cn")).as("n"),
        sum(col("__d")).as("deaths"),
        pinnedFold(col("__t"), col("__oe"), exactOrder).as("__osum"),
        pinnedFold(col("__t"), col("__vv"), exactOrder).as("__vsum"))
      .withColumn("__e", col("deaths").cast("double") - col("__osum"))
      .localCheckpoint() // feeds the omnibus fold AND the output rows
    val chiTerm = when(col("__e") > 0.0,
      col("__osum") * col("__osum") / col("__e")).otherwise(lit(0.0))
    val omnibus =
      (if (grp.isEmpty) perArm.groupBy() else perArm.groupBy(grp: _*))
        .agg(sum(col("deaths")).as("__dtot"),
          pinnedFold(col("__v"), chiTerm, exactOrder).as("__chi2"))
    val joined =
      (if (grp.isEmpty)
        perArm.crossJoin(broadcast(totals)).crossJoin(broadcast(omnibus))
       else perArm.join(totals, groupCols).join(omnibus, groupCols))
    val chi2 = when(col("__k") >= 2L && col("__dtot") > 0L,
      col("__chi2"))
    // the 95% gate picked by df = k − 1 from the stored quantile
    // table (data, not libm) unless the caller supplied an explicit
    // crit; df > 8 with no override → NULL reject, honest chi2
    val critCol = chi2Crit match {
      case Some(c) => lit(c)
      case None => chi2Crit95.foldLeft(lit(null).cast("double")) {
        case (acc, (df, c)) => when(col("__k") === (df + 1L), lit(c))
          .otherwise(acc)
      }
    }
    joined.select(grp ++ Seq(col("__v").as("variant"), col("n"),
      col("deaths"), col("__e").as("expected"),
      col("__osum").as("o_minus_e"),
      when(col("__vsum") > 0.0, col("__osum") / sqrt(col("__vsum")))
        .as("z"),
      col("__k").as("k"), chi2.as("chi2"),
      when(critCol.isNotNull, coalesce(chi2 > critCol, lit(false)))
        .as("reject")): _*)
  }

  /** The stored 95% χ² critical values for df 1..8 (Abramowitz &
    * Stegun table values — DATA shipped with the op, not a libm
    * quantile), keyed by df so [[logRankK]]'s `reject` gate is
    * df-correct for the observed k (r19 ADVICE: a fixed default crit
    * was anti-conservative the moment k ≠ its documented df). */
  private val chi2Crit95: Seq[(Long, Double)] = Seq(
    1L -> 3.841, 2L -> 5.991, 3L -> 7.815, 4L -> 9.488,
    5L -> 11.070, 6L -> 12.592, 7L -> 14.067, 8L -> 15.507)

  /** The shared complete-block screen of the paired-k tests
    * ([[friedmanTest]], [[cochranQ]]): `base` must carry the block as
    * `__b` and the treatment as `__t`. Returns `(blocksK, kAgg)` —
    * per-(group, block) counts joined with the group's global distinct
    * treatment count `__k` and the `__complete` verdict (exactly k
    * rows AND k distinct treatments), plus the `__k` frame itself —
    * ONE definition so the two ops' "block contract verbatim" promise
    * is structural, not textual (review-caught duplication).
    * `extraAggs` appends caller partials (cochranQ's per-block success
    * count) to the same per-block row. */
  private def completeBlockScreen(base: DataFrame, grp: Seq[Column],
      groupCols: Seq[String], extraAggs: Seq[Column] = Nil)
      : (DataFrame, DataFrame) = {
    val kAgg =
      (if (grp.isEmpty) base.groupBy() else base.groupBy(grp: _*))
        .agg(countDistinct(col("__t")).as("__k"))
    val aggs = Seq(count(lit(1)).as("__cnt"),
      countDistinct(col("__t")).as("__dt")) ++ extraAggs
    val blocks = base.groupBy(grp :+ col("__b"): _*)
      .agg(aggs.head, aggs.tail: _*)
    val blocksK =
      (if (grp.isEmpty) blocks.crossJoin(broadcast(kAgg))
       else blocks.join(kAgg, groupCols))
        .withColumn("__complete",
          col("__cnt") === col("__k") && col("__dt") === col("__k"))
    (blocksK, kAgg)
  }

  /** Friedman test per group — the PAIRED k-treatment comparison
    * completing the test matrix: [[mannWhitneyU]] (unpaired, 2),
    * [[kruskalWallis]] (unpaired, k), [[wilcoxonSignedRank]] /
    * [[signTest]] (paired, 2), THIS (paired, k): n blocks (eval items,
    * user cohorts, time buckets) each scoring all k treatments
    * (model variants, pipeline arms) — ranks WITHIN each block, so
    * between-block level differences cancel by construction.
    *
    * Block contract: each block must hold each treatment EXACTLY once
    * (pre-aggregate to one observation per cell first); incomplete or
    * duplicated blocks DROP and are REPORTED (`n_dropped`) — silent
    * imputation is how a paired test quietly becomes unpaired.
    * `k` is the group's observed distinct treatment set.
    *
    * Exactness — the shelf's strongest: within-block tie-averaged
    * ranks ride the exact 2·rank carry, and Conover's tie-robust form
    *   `Q = (k−1)·(Σ_j R_j² − n²k(k+1)²/4) / (A − nk(k+1)²/4)`
    * (A = Σ_ij r_ij²) clears its /4s against the 2× carry:
    *   `Q = (k−1)·(Σ_j R2_j² − n²k(k+1)²) / (A2 − nk(k+1)²)`
    * — EVERY term an order-free exact decimal(38,0) integer (the
    * per-treatment frame is k rows; no float fold anywhere), float
    * only at the ONE final division. Untied blocks reduce to the
    * classic `12/(nk(k+1))·ΣR_j² − 3n(k+1)` (spec: the perfect-order
    * fixture reads exactly (k−1)·n = 6). No p-value (no-libm):
    * threshold against χ²_{k−1}. Degenerate reads: k < 2 or no
    * complete block → NULL Q; every block internally tied
    * (denominator 0 — no rank signal at all) → NULL Q with honest
    * counts.
    *
    * Scale shape: two hash-aggs for the completeness screen, one
    * `rank()` window per (group, block) partition — blocks are the
    * parallelism unit, so the sort is k-row-sized — and two hash-aggs
    * for the sums. Reports Kendall's W = Q/(n(k−1)) ∈ [0, 1] — the
    * agreement-strength effect size (1 = every block ranks the
    * treatments identically). Output per group:
    * `n_blocks, n_dropped, k, q, w`. */
  /** The shared rank frames of the Friedman family ([[friedmanTest]],
    * [[friedmanConover]]): the complete-block screen, within-block
    * 2·rank carries, per-treatment exact rank sums `__R2`, and the
    * cell-square sum `__A2` — ONE definition so the post-hoc's
    * "same ranks as the omnibus" promise is structural. Returns
    * (blockStats, kAgg, perT, a2). */
  private def friedmanRankFrames(blockField: String,
      treatmentField: String, value: Column, groupCols: Seq[String],
      castTreatment: Boolean = true)(
      df: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val base = df
      .filter(col(blockField).isNotNull &&
        col(treatmentField).isNotNull && value.isNotNull)
      .select(grp :+ col(blockField).as("__b") :+
        (if (castTreatment) col(treatmentField).cast("string")
         else col(treatmentField)).as("__t") :+
        value.as("__x"): _*)
      .localCheckpoint() // feeds k, the completeness screen AND ranks
    val (blocksK, kAgg) = completeBlockScreen(base, grp, groupCols)
    val blockStats =
      (if (grp.isEmpty) blocksK.groupBy() else blocksK.groupBy(grp: _*))
        .agg(sum(when(col("__complete"), 1L).otherwise(0L)).as("n_blocks"),
          sum(when(!col("__complete"), 1L).otherwise(0L)).as("n_dropped"))
    val keep = blocksK.filter(col("__complete"))
      .select(grp :+ col("__b"): _*)
    val rows = base.join(keep, groupCols :+ "__b", "left_semi")
    val wOrd = Window.partitionBy(grp :+ col("__b"): _*)
      .orderBy(col("__x"))
    val wTie = Window.partitionBy(grp :+ col("__b") :+ col("__x"): _*)
    val ranked = rows.select(grp ++ Seq(col("__t"),
      rank2Carry(wOrd, wTie).as("__r2")): _*)
    val perT = ranked.groupBy(grp :+ col("__t"): _*)
      .agg(sum(col("__r2")).as("__R2"))
      // k rows per group; the omnibus reads it once but the post-hoc
      // feeds sR2 AND both pair sides — pin the rank window to one
      // execution (review-caught; the dunnTest perVar discipline)
      .localCheckpoint()
    val a2 =
      (if (grp.isEmpty) ranked.groupBy() else ranked.groupBy(grp: _*))
        .agg(sum(col("__r2") * col("__r2")).as("__A2"))
    (blockStats, kAgg, perT, a2)
  }

  def friedmanTest(blockField: String, treatmentField: String,
      value: Column, groupCols: Seq[String] = Nil)(
      df: DataFrame): DataFrame = {
    val grp = groupCols.map(col)
    val (blockStats, kAgg, perT, a2) = friedmanRankFrames(
      blockField, treatmentField, value, groupCols)(df)
    val sR2 =
      (if (grp.isEmpty) perT.groupBy() else perT.groupBy(grp: _*))
        .agg(sum(col("__R2") * col("__R2")).as("__sR2"))
    val joined0 =
      (if (grp.isEmpty)
        blockStats.crossJoin(kAgg).crossJoin(sR2).crossJoin(a2)
       else blockStats.join(kAgg, groupCols)
         .join(sR2, groupCols, "left").join(a2, groupCols, "left"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val kp1sq = d38((col("__k") + 1) * (col("__k") + 1))
    val num = col("__sR2") -
      d38(col("n_blocks")) * d38(col("n_blocks")) * d38(col("__k")) * kp1sq
    val den = col("__A2") - d38(col("n_blocks")) * d38(col("__k")) * kp1sq
    val zero38 = lit(0).cast("decimal(38,0)")
    val q = ((d38(col("__k")) - 1) * num).cast("double") /
      den.cast("double")
    joined0.select(grp ++ Seq(col("n_blocks"), col("n_dropped"),
      col("__k").as("k"),
      when(col("__k") >= 2 && col("n_blocks") >= 1 && den > zero38, q)
        .as("q"),
      // Kendall's W — the agreement-strength effect size beside Q
      // (the eta_sq precedent on oneWayAnova): W = Q/(n(k−1)) ∈ [0, 1],
      // 1 when every block ranks the treatments identically (the
      // perfect-order fixture reads exactly 1 — spec-pinned), 0 at no
      // agreement. Same one division; NULL exactly where Q is NULL.
      when(col("__k") >= 2 && col("n_blocks") >= 1 && den > zero38,
        q / (col("n_blocks").cast("double") *
          (col("__k").cast("double") - lit(1.0)))).as("w")): _*)
  }

  /** Page's trend test per group — the ORDERED-alternative Friedman,
    * completing the test matrix's last corner: [[jonckheereTerpstra]]
    * asks "does the metric rise with the dose?" on UNPAIRED samples,
    * THIS asks it on paired blocks (n eval items each scoring all k
    * ordered variants — model sizes, data fractions, checkpoint
    * steps), with between-block level differences cancelled by the
    * within-block ranking exactly as in [[friedmanTest]].
    *
    * `L = Σ_j j·R_j` over the SAME within-block tie-averaged ranks
    * the Friedman omnibus computes (one shared `friedmanRankFrames`
    * definition — structural, not textual), with j the variant's
    * position in its NATURAL TYPE ORDER (pass an orderable dose
    * column — the reference passes doses, not labels, so no string
    * cast here). Exactness — the shelf's cleanest identity: with the
    * 2·rank carry, `4L = Σ_j 2j·R2_j` and `4·E[L] = n·k(k+1)²` are
    * exact integers, and the EXACT conditional (tie-aware)
    * permutation variance collapses against the constant within-block
    * rank sum to
    *   `Var(L) = k(k+1)·(A2 − n·k(k+1)²) / 48`
    * (A2 = Σ_cells (2r)², the [[friedmanTest]] sum verbatim) — with
    * no ties this IS the textbook `n·k²(k+1)²(k−1)/144`, derived
    * in-code; fully-tied blocks contribute exact 0. One-sided z =
    * (4L − 4E)/(4σ): large L = the metric RISES with the dose — 1.64
    * IS the 95% one-sided gate (no p-value, the no-libm doctrine);
    * reversing the dose order negates z exactly, and k = 2 reduces to
    * [[signTest]]'s z EXACTLY (both property-spec-pinned). Block
    * contract and drop-reporting follow [[friedmanTest]] verbatim.
    * Degenerate reads: k < 2, no complete block, or every block
    * internally tied (zero variance) → NULL with honest counts.
    *
    * Scale shape: the [[friedmanTest]] cost class exactly — the
    * shared rank frames plus one k-sized ordered fold. Output per
    * group: `n_blocks, n_dropped, k, l, z`. */
  def pageTest(blockField: String, treatmentField: String,
      value: Column, groupCols: Seq[String] = Nil)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val (blockStats, kAgg, perT, a2) = friedmanRankFrames(
      blockField, treatmentField, value, groupCols,
      castTreatment = false)(df)
    def d38(c: Column) = c.cast("decimal(38,0)")
    // j = the variant's position in its natural order, per group
    val wOrd = Window.partitionBy(grp: _*).orderBy(col("__t"))
    val withJ = perT.withColumn("__j",
      row_number().over(wOrd).cast("long"))
    // 4L = Σ 2j·R2_j — exact decimal(38,0), k-sized ordered fold
    val l4 = withJ.groupBy(grp: _*)
      .agg(sum(lit(2).cast("decimal(38,0)") * d38(col("__j")) *
        col("__R2")).as("__l4"))
    val joined =
      (if (grp.isEmpty)
        blockStats.crossJoin(kAgg).crossJoin(l4).crossJoin(a2)
       else blockStats.join(kAgg, groupCols)
         .join(l4, groupCols, "left").join(a2, groupCols, "left"))
    val k38 = d38(col("__k"))
    val kp1sq = k38 * (k38 + 1) * (k38 + 1)
    // 4E[L] = n·k(k+1)² and the tie-exact variance numerator
    // k(k+1)·(A2 − n·k(k+1)²) — both exact integers; float at the
    // /48 and the one sqrt
    val num4 = col("__l4") - d38(col("n_blocks")) * kp1sq
    val vnum = k38 * (k38 + 1) *
      (col("__A2") - d38(col("n_blocks")) * kp1sq)
    val varL = vnum.cast("double") / lit(48.0)
    val zero38 = lit(0).cast("decimal(38,0)")
    val live = col("__k") >= 2 && col("n_blocks") >= 1 && vnum > zero38
    joined.select(grp ++ Seq(col("n_blocks"), col("n_dropped"),
      col("__k").as("k"),
      when(col("__k") >= 2 && col("n_blocks") >= 1,
        col("__l4").cast("double") / lit(4.0)).as("l"),
      when(live,
        num4.cast("double") / (lit(4.0) * sqrt(varL))).as("z")): _*)
  }

  /** Conover–Iman post-hoc pairwise comparisons after
    * [[friedmanTest]] rejects — WHICH treatment pair moved, the
    * paired-shelf twin of [[dunnTest]]'s role after [[kruskalWallis]].
    * For each ordered treatment pair, the LSD-on-ranks t over the SAME
    * within-block tie-averaged ranks the omnibus computed (one shared
    * `friedmanRankFrames` definition — structural, not textual):
    *   `t_ij = (R_i − R_j) / √(2n·MSE)`,
    *   `MSE = (A − Σ_j R_j²/n) / ((n−1)(k−1))`
    * — the residual mean square of the blocks×treatments rank table
    * (tie-averaged block sums are constant, so the block and total
    * terms cancel EXACTLY; derived in-code and property-checked
    * against the direct residual computation off-line). With the
    * 2·rank carry everything collapses to ONE exact integer,
    *   `t_ij = (R2_i − R2_j) / √(2(n·A2 − ΣR2_j²) / ((n−1)(k−1)))`
    * — float at one division and one sqrt. No p-value (no-libm):
    * `reject` gates at `tCrit` per pair against t_{(n−1)(k−1)} — 1.96
    * is the large-df 95% gate; pass the exact small-sample or
    * Bonferroni-adjusted quantile for strict control. Degenerate
    * reads: every block internally tied OR perfectly ordered (zero
    * residual variance — the rank table is deterministic, no error
    * estimate exists; the omnibus W = 1 already says the arms differ
    * everywhere) → NULL t with `reject` false. Block contract, k
    * guard, and drop-reporting follow [[friedmanTest]] /
    * [[dunnTest]]. Output per (group, pair): `treatment_a,
    * treatment_b, n_blocks, n_dropped, mean_rank_a, mean_rank_b, t,
    * reject`. */
  def friedmanConover(blockField: String, treatmentField: String,
      value: Column, groupCols: Seq[String] = Nil,
      tCrit: Double = 1.96, maxK: Int = 64)(df: DataFrame): DataFrame = {
    require(tCrit > 0.0 && tCrit <= 100.0,
      s"tCrit must be in (0, 100]: $tCrit")
    require(maxK >= 2 && maxK <= 1024,
      s"maxK must be in [2, 1024], got $maxK")
    val grp = groupCols.map(col)
    val (blockStats, kAgg, perT, a2) = friedmanRankFrames(
      blockField, treatmentField, value, groupCols)(df)
    val sR2 =
      (if (grp.isEmpty) perT.groupBy() else perT.groupBy(grp: _*))
        .agg(sum(col("__R2") * col("__R2")).as("__sR2"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val totals0 =
      (if (grp.isEmpty)
        blockStats.crossJoin(kAgg).crossJoin(sR2).crossJoin(a2)
       else blockStats.join(kAgg, groupCols)
         .join(sR2, groupCols, "left").join(a2, groupCols, "left"))
    // the k guard rides n_blocks — consumed by every pair t — so an
    // oversized treatment set raises below the k² join (the dunnTest
    // discipline)
    val totals = totals0
      .withColumn("__nb2",
        when(col("__k") > maxK, raise_error(concat(
          lit("friedmanConover: "), col("__k").cast(StringType),
          lit(s" distinct treatments > maxK=$maxK — the pair frame" +
            " is k^2; is the treatment column really categorical?")))
          .cast("long"))
          .otherwise(col("n_blocks")))
      .drop("n_blocks").withColumnRenamed("__nb2", "n_blocks")
    val pa = perT.select(grp ++ Seq(col("__t").as("treatment_a"),
      col("__R2").as("__r2a")): _*)
    val paT =
      (if (grp.isEmpty) pa.crossJoin(broadcast(totals))
       else pa.join(totals, groupCols))
    val pb = perT.select(grp ++ Seq(col("__t").as("treatment_b"),
      col("__R2").as("__r2b")): _*)
    val pairs =
      (if (grp.isEmpty) paT.crossJoin(pb) else paT.join(pb, groupCols))
        .filter(col("treatment_a") < col("treatment_b"))
    val nbD = col("n_blocks").cast("double")
    // 2(n·A2 − ΣR2²): the exact-integer residual numerator
    val resNum = lit(2).cast("decimal(38,0)") *
      (d38(col("n_blocks")) * col("__A2") - col("__sR2"))
    val zero38 = lit(0).cast("decimal(38,0)")
    val dfDen = ((col("n_blocks") - 1) * (col("__k") - 1)).cast("double")
    val t = when(col("__k") >= 2 && col("n_blocks") >= 2 &&
        resNum > zero38,
      (col("__r2a") - col("__r2b")).cast("double") /
        sqrt(resNum.cast("double") / dfDen))
    pairs.select(grp ++ Seq(col("treatment_a"), col("treatment_b"),
      col("n_blocks"), col("n_dropped"),
      (col("__r2a").cast("double") / (lit(2.0) * nbD)).as("mean_rank_a"),
      (col("__r2b").cast("double") / (lit(2.0) * nbD)).as("mean_rank_b"),
      t.as("t"),
      coalesce(abs(t) > lit(tCrit), lit(false)).as("reject")): _*)
  }

  /** The four exact sign counters shared by [[signTest]] and
    * [[graft.streaming.Streaming.windowedSignTest]] — one definition
    * so the streaming twin's batch-dag-verbatim promise is structural
    * (the [[sideSuccessCounters]] discipline). Expects the paired
    * difference as `__d`; NULLs must already be dropped. */
  private[graft] def signCounters: Seq[Column] = Seq(
    count(lit(1)).as("n_pairs"),
    sum(when(col("__d") === 0.0, 1L).otherwise(0L)).as("n_zero"),
    sum(when(col("__d") > 0.0, 1L).otherwise(0L)).as("n_pos"),
    sum(when(col("__d") < 0.0, 1L).otherwise(0L)).as("n_neg"))

  /** The sign-test z dag over a (pos, neg) counter pair: exact integer
    * (pos − neg) over one sqrt of the exact (pos + neg); NULL when no
    * nonzero difference exists (zero evidence, not zero effect).
    * Returned UNALIASED. ONE definition serves [[signTest]], the
    * streaming [[graft.streaming.Streaming.windowedSignTest]] gate,
    * and every pair cell of
    * [[graft.streaming.Streaming.windowedSignMatrix]]. */
  private[graft] def signZOf(pos: Column, neg: Column): Column =
    when(pos + neg > 0L,
      (pos - neg).cast("double") / sqrt((pos + neg).cast("double")))

  private[graft] def signZ: Column = signZOf(col("n_pos"), col("n_neg"))

  /** Sign test per group — the assumption-free PAIRED location test:
    * under the null each nonzero difference is equally likely up or
    * down, so `z = (n_pos − n_neg)/√(n_pos + n_neg)` (the binomial
    * normal approximation; z² is McNemar's uncorrected χ² on the
    * discordant split, and [[mcnemarTest]] IS this test for binary
    * outcomes). Weaker than [[wilcoxonSignedRank]] (which also uses
    * magnitude ranks) but immune even to asymmetric difference
    * distributions — and, decisively for the live pipeline, its state
    * is FOUR COUNTERS, which is why the streaming twin
    * ([[graft.streaming.Streaming.windowedSignTest]]) exists where a
    * windowed Wilcoxon cannot (per-window ranks are unbounded state).
    *
    * Doctrine = [[wilcoxonSignedRank]]: `d = a − b`, NULL on either
    * side drops the pair, zero differences drop from the statistic
    * but are reported. Exact integers into one final division and one
    * sqrt; no p-value (no-libm) — |z| ≥ 1.96 IS the 95% gate. Scale
    * shape: one filter + one hash-agg, full stop. Output per group:
    * `n_pairs, n_zero, n_pos, n_neg, z`. */
  def signTest(aValue: Column, bValue: Column,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val grp = groupCols.map(col)
    val base = df
      .filter(aValue.isNotNull && bValue.isNotNull)
      .select(grp :+
        (aValue.cast("double") - bValue.cast("double")).as("__d"): _*)
    val agg =
      (if (grp.isEmpty) base.groupBy() else base.groupBy(grp: _*))
        .agg(signCounters.head, signCounters.tail: _*)
    agg.select(grp ++ Seq(col("n_pairs"), col("n_zero"), col("n_pos"),
      col("n_neg"), signZ.as("z")): _*)
  }

  /** Wilcoxon signed-rank test per group — the PAIRED nonparametric
    * location test, completing the paired axis of the drift battery:
    * [[mannWhitneyU]] compares two UNPAIRED samples, [[mcnemarTest]]
    * two paired BINARY outcomes, [[permutationTest]] a paired MEAN;
    * this ranks the paired |differences| (two scorings of the same
    * docs, before/after metrics on the same slice) — outlier-immune
    * where the permutation mean is ruled by the fat tail, and
    * strictly more sensitive than McNemar when the outcome is a
    * value, not a bit.
    *
    * Doctrine: `d = a − b` per row; NULL on either side drops; ZERO
    * differences drop from the ranking (the standard Wilcoxon
    * practice — a zero carries no sign information) but are REPORTED
    * (`n_zero` — a paired metric that never moves should look like
    * agreement, not significance). Tie-averaged ranks of |d| ride the
    * exact [[spearmanCorr]] integer carry (`2·rank = 2·rank_min +
    * t − 1`), so `2·W⁺ = Σ2r over d > 0` is an order-free exact
    * decimal(38,0) sum. Readings, each one fixed IEEE dag:
    *   - `w_plus` / `w_minus` — the signed rank sums;
    *   - `rank_biserial = (W⁺ − W⁻)/(W⁺ + W⁻)` — the matched-pairs
    *     effect size on [−1, 1] (= exact `(4W⁺ − n(n+1))/(n(n+1))`);
    *   - `z` — the tie-corrected normal approximation: with exact
    *     integer `num4 = 4W⁺ − n(n+1)` and
    *     `V = 2n(n+1)(2n+1) − Σ(t³−t)` (Σ(t³−t) = the exact
    *     Σ_rows(t²−1), order-free), `z = num4 / √(V/3)` — algebra-
    *     identical to `(W⁺ − n(n+1)/4)/σ_ties`, float only at the
    *     last division and one sqrt.
    * No p-value (the no-libm doctrine): |z| ≥ 1.96 IS the 95% gate.
    * A group with no nonzero differences reads NULL statistics with
    * honest counts.
    *
    * Scale shape: one `rank()` window + one tie-count window per
    * group partition (the [[mannWhitneyU]] cost class), two
    * hash-aggs. Empty `groupCols` = one global partition — shard by a
    * group column at corpus scale. Output per group:
    * `n_pairs, n_zero, n, w_plus, w_minus, rank_biserial, z`. */
  def wilcoxonSignedRank(aValue: Column, bValue: Column,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val zero38 = lit(0).cast("decimal(38,0)")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df
      .filter(aValue.isNotNull && bValue.isNotNull)
      .select(grp :+
        (aValue.cast("double") - bValue.cast("double")).as("__d"): _*)
    val tot =
      (if (grp.isEmpty) base.groupBy() else base.groupBy(grp: _*))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("__d") === 0.0, 1L).otherwise(0L)).as("n_zero"))
    val nz = base.filter(col("__d") =!= 0.0)
      .withColumn("__ad", abs(col("__d")))
    val wOrd = Window.partitionBy(grp: _*).orderBy(col("__ad"))
    val wTie = Window.partitionBy(grp :+ col("__ad"): _*)
    val ranked = nz.select(grp ++ Seq(col("__d"),
      rank2Carry(wOrd, wTie).as("__r2"),
      (count(lit(1)).over(wTie) * count(lit(1)).over(wTie) - lit(1L))
        .cast("decimal(38,0)").as("__tt")): _*)
    val agg =
      (if (grp.isEmpty) ranked.groupBy() else ranked.groupBy(grp: _*))
        .agg(count(lit(1)).as("__n"),
          sum(when(col("__d") > 0.0, col("__r2")).otherwise(zero38))
            .as("__r2p"),
          sum(col("__tt")).as("__ties"))
    val joined =
      (if (grp.isEmpty) tot.crossJoin(agg)
       else tot.join(agg, groupCols, "left"))
        .withColumn("n", coalesce(col("__n"), lit(0L)))
    val nD = col("n").cast("double")
    val nn1 = dec(col("n")) * dec(col("n") + 1)
    val num4 = lit(2).cast("decimal(38,0)") * col("__r2p") - nn1
    val vnum = lit(2).cast("decimal(38,0)") * dec(col("n")) *
      dec(col("n") + 1) * dec(lit(2L) * col("n") + 1) - col("__ties")
    joined.select(grp ++ Seq(col("n_pairs"), col("n_zero"), col("n"),
      when(col("n") > 0, col("__r2p").cast("double") / lit(2.0))
        .as("w_plus"),
      when(col("n") > 0, (nn1 - col("__r2p")).cast("double") / lit(2.0))
        .as("w_minus"),
      when(col("n") > 0,
        num4.cast("double") / (nD * (nD + lit(1.0))))
        .as("rank_biserial"),
      when(col("n") > 0 && vnum > zero38,
        num4.cast("double") / sqrt(vnum.cast("double") / lit(3.0)))
        .as("z")): _*)
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic per group — the
    * sup-of-ECDF-gap drift test, RANK-EXACT: where [[numericDrift]]
    * evaluates the KS statistic on a caller-supplied bin grid (a lower
    * bound, global, sort-free by design), this computes the true
    * `D = sup_x |F_A(x) − F_B(x)|` per group — the per-slice
    * corpus-version check ("did feature X move for source Y?") where
    * the per-key sort is the accepted window cost.
    *
    * Exactness doctrine at its cleanest: at every distinct pooled
    * value, `|F_A − F_B| = |cumA·n_B − cumB·n_A| / (n_A·n_B)`, so the
    * sup is the MAX OF EXACT decimal(38,0) INTEGERS and the one
    * division happens once, after the max — D is exact rational, and
    * `ks_at` (the smallest value attaining the sup — where the
    * distributions pull apart, the actionable part of the report) is
    * picked by an exact (numerator, value) struct-max, fully
    * deterministic. A group with either side empty reads NULL
    * `ks_stat` (no second sample, not agreement). NULL side/value
    * rows drop.
    *
    * Scale shape: one (group, value) hash-agg collapses the corpus to
    * distinct values, then one cumulative window per group partition
    * over those — the [[spearmanCorr]] cost class on the DISTINCT
    * frame. Empty `groupCols` = one global partition, same documented
    * cost as [[mannWhitneyU]]. Output per group:
    * `n_a, n_b, ks_stat, ks_at`. */
  def ksTest(side: Column, value: Column,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val cells = df
      .filter(side.isNotNull && value.isNotNull)
      .select(grp :+ side.cast("boolean").as("__a") :+
        value.cast("double").as("__x"): _*)
      .groupBy(grp :+ col("__x"): _*)
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    val wCum = Window.partitionBy(grp: _*).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(grp: _*)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val stepped = cells.select(grp ++ Seq(col("__x"),
      dec(sum(col("__ca")).over(wCum)).as("__cumA"),
      dec(sum(col("__cb")).over(wCum)).as("__cumB"),
      sum(col("__ca")).over(wAll).as("__na"),
      sum(col("__cb")).over(wAll).as("__nb")): _*)
      .withColumn("__num",
        abs(col("__cumA") * dec(col("__nb")) -
          col("__cumB") * dec(col("__na"))))
    (if (grp.isEmpty) stepped.groupBy() else stepped.groupBy(grp: _*))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(col("__num")).as("__ksnum"),
        // smallest value attaining the sup: exact struct-max on
        // (numerator, −value) — both components exact, no float fold
        max(struct(col("__num").as("__n"),
          (-col("__x")).as("__negx"))).as("__atmax"))
      .select(grp ++ Seq(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("__ksnum").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("ks_stat"),
        when(col("n_a") > 0 && col("n_b") > 0,
          -col("__atmax").getField("__negx")).as("ks_at")): _*)
  }

  /** Distribution-free Chebyshev p-value envelope for a z statistic —
    * the bridge from the no-p-value z shelf ([[dunnTest]],
    * [[mannWhitneyU]], [[logRankTest]], …) into [[bhCorrect]], which
    * needs p's: `p = min(1, 1/z²)` is Chebyshev's two-sided tail
    * bound, VALID for any distribution with the stated mean and
    * variance (no normality assumed, no libm needed) and strictly
    * decreasing in |z| — so BH's ordering matches the normal-p
    * ordering EXACTLY and its rank logic is faithful; rejections are
    * valid but conservative (1/z² hits 0.05 at |z| ≈ 4.47 where the
    * normal p does at 1.96 — an alarm that fires through this
    * envelope is real at any distribution). z = 0 reads exact 1.0;
    * NULL z (no evidence) reads NULL — [[bhCorrect]] drops it. One
    * fixed IEEE dag. */
  def chebyshevP(z: Column): Column =
    when(z.isNotNull,
      when(z === 0.0, lit(1.0))
        .otherwise(least(lit(1.0), lit(1.0) / (z * z))))

  /** Benjamini–Hochberg FDR correction — the multiple-comparisons
    * step every eval suite needs the moment it runs [[permutationTest]]
    * / [[mannWhitneyU]] across dozens of slices: at 5% per test, one
    * slice in twenty "regresses" by luck. Step-up procedure over a
    * family of (test id, p) rows: sort p ascending, adjusted
    * `p̃_(i) = min_{j ≥ i} p_(j)·m/j` clamped to 1, reject where
    * `p̃ ≤ alpha` — controlling the EXPECTED FALSE-DISCOVERY RATE at
    * `alpha` (Benjamini & Hochberg 1995) instead of Bonferroni's
    * family-wise overkill.
    *
    * Determinism: ties in p are pinned by (p, id) row_number — tied
    * p's provably receive the SAME adjusted value under the suffix
    * min, so the pin fixes only the reported `rank`, not the
    * statistics. Each raw candidate is one fixed IEEE dag
    * `p·m/rank`; the suffix min and the clamp are order-free on
    * identical IEEE sets — bit-reproducible cross-engine. A p outside
    * [0, 1] fails loudly (raise_error, the [[kendallTau]] contract
    * discipline): garbage p-values silently "corrected" is how a bad
    * eval ships. NULL p rows drop (a test that produced no p is not
    * evidence).
    *
    * Scale shape: m per family via one window, rank + suffix-min via
    * two more — all over |tests| rows, which is small BY CONSTRUCTION
    * (a family of millions of hypotheses wants a different procedure
    * anyway). Empty `groupCols` = one family, one partition. Output
    * per test row: `idField, p, rank, m, p_adj, reject`. */
  def bhCorrect(idField: String, pField: String, alpha: Double = 0.05,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    val grp = groupCols.map(col)
    val base = df
      .filter(col(pField).isNotNull)
      .select(grp :+ col(idField).as("__id") :+
        when(col(pField).cast("double") < 0.0 ||
            col(pField).cast("double") > 1.0,
          raise_error(concat(lit("bhCorrect: p out of [0,1] for "),
            col(idField).cast(StringType))).cast("double"))
          .otherwise(col(pField).cast("double")).as("__p"): _*)
    val wAll = Window.partitionBy(grp: _*)
    val wOrd = Window.partitionBy(grp: _*)
      .orderBy(col("__p"), col("__id"))
    // the step-up suffix-min SPELLED as a running min over the
    // REVERSED order — the same row set and the same exact doubles as
    // a (currentRow, unboundedFollowing) frame, but Spark executes
    // that frame class by rescanning the remainder per row (O(m²) in
    // one task — caught at 100k tests, SURVEY §8);
    // the reversed running frame is the streaming O(m) evaluator.
    // Reversal rides the COMPUTED rank, not (p, id) desc: rank is a
    // total order by construction, so the prefix-in-reverse is the
    // positional suffix even when two rows tie on (p, id) — an
    // independent descending tie order could exclude a tied twin's
    // smaller m·p/rank term (review-caught)
    val wSuf = Window.partitionBy(grp: _*)
      .orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("rank", row_number().over(wOrd).cast("long"))
      .withColumn("__raw", col("__p") * col("m").cast("double") /
        col("rank").cast("double"))
      .withColumn("p_adj", least(lit(1.0), min(col("__raw")).over(wSuf)))
      .select(grp ++ Seq(col("__id").as(idField), col("__p").as("p"),
        col("rank"), col("m"), col("p_adj"),
        (col("p_adj") <= lit(alpha)).as("reject")): _*)
  }

  /** Brown–Forsythe two-sample scale test per group — did the SPREAD
    * move? The drift battery's missing axis beside [[mannWhitneyU]]
    * (location), [[ksTest]] (whole distribution), [[proportionZTest]]
    * (rates) and [[theilSen]] (trend): a latency distribution whose
    * median holds while its tails fatten passes all of those and
    * fails this one. Levene's test with MEDIAN centering (the
    * Brown–Forsythe variant — robust where the mean-centered original
    * is itself fooled by the outliers it hunts).
    *
    * Per side, deviations `z_i = |x_i − med_side|` with the exact
    * selection median of [[theilSen]]; the one-way ANOVA F on the two
    * deviation samples,
    * `F = (N−2)·Σ_s n_s(z̄_s − z̄)² / Σ_s Σ_i (z_si − z̄_s)²`,
    * rides the money-column discipline: deviations 1e-9-quantize, Σz
    * and Σz² are exact decimal(38,0) sums (the 1e9 scale cancels in
    * the ratio but the dag keeps it explicit so both engines walk the
    * same doubles), and F is one fixed IEEE dag. Magnitude bound:
    * |x − median| must stay ≤ 9e9 (the decimal(19,0) quantization
    * ceiling) — a larger deviation raises loudly instead of the
    * silent-vs-loud cross-engine split a plain cast overflow would
    * give; rescale the metric first. No p-value (no-libm);
    * threshold against F₁,ₙ₋₂ — 3.84 is the large-N 95% gate. An
    * empty side or zero within-side variance reads NULL F; medians
    * stay reported where defined. NULL side/value rows drop.
    *
    * Scale shape: one per-(group, side) median window + two hash-aggs.
    * Output per group: `n_a, n_b, med_a, med_b, f`. */
  /** The shared 1e-9 money-column quantizer with its loud 9e9 bound
    * ([[oneWayAnova]], [[brownForsythe]], [[brownForsytheK]]): past
    * |c| = 9e9 the 1e9-scaled value no longer fits decimal(19,0) and a
    * plain cast would silently NULL under non-ANSI Spark while the
    * DuckDB oracle's DECIMAL cast errors — ONE definition so the
    * bound, the rounding, and the message cannot drift between the
    * ops (review-caught triplication). */
  private[graft] def quantize9(op: String, label: String, noun: String)(
      c: Column): Column =
    when(abs(c) > lit(9.0e9), raise_error(concat(
      lit(s"$op: $label = "), abs(c).cast(StringType),
      lit(s" exceeds the 9e9 quantization bound ($noun" +
        " 1e-9-quantize into decimal(19,0)); rescale the metric")))
      .cast("double"))
      .otherwise(round(c * lit(1e9), 0))
      .cast("decimal(19,0)")

  /** Cochran's Q per group — [[friedmanTest]] for BINARY outcomes and
    * [[mcnemarTest]] at k treatments: n blocks (eval items) each
    * pass/failed by all k treatments (model variants, gate versions) —
    * did ANY variant's pass rate move, with the between-item
    * difficulty differences cancelled by design? The k-sample
    * completion of the paired-binary axis (k = 2 IS McNemar's
    * uncorrected χ²: Q = (b−c)²/(b+c), property-spec-pinned).
    *
    * Block contract = [[friedmanTest]] verbatim: each block holds each
    * treatment exactly once (pre-aggregate first); incomplete or
    * duplicated blocks DROP and are REPORTED (`n_dropped`).
    *
    * Exactness — fully exact: with per-treatment success counts C_j,
    * per-block success counts R_i, and T = ΣC = ΣR,
    *   `Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²)`
    * — every term an order-free exact decimal(38,0) integer (the
    * per-treatment frame is k rows, the per-block sums one hash-agg),
    * float only at the ONE final division. No p-value (no-libm):
    * threshold against χ²_{k−1}. Degenerate reads: k < 2 or no
    * complete block → NULL Q; every block uniform (all-pass or
    * all-fail — denominator 0, zero within-block information) → NULL Q
    * with honest counts. NULL block/treatment/success rows drop.
    *
    * Scale shape: two hash-aggs for the completeness screen, two for
    * the sums — no window, no sort, full stop. Output per group:
    * `n_blocks, n_dropped, k, q`. */
  def cochranQ(blockField: String, treatmentField: String,
      success: Column, groupCols: Seq[String] = Nil)(
      df: DataFrame): DataFrame = {
    val grp = groupCols.map(col)
    val base = df
      .filter(col(blockField).isNotNull &&
        col(treatmentField).isNotNull && success.isNotNull)
      .select(grp :+ col(blockField).as("__b") :+
        col(treatmentField).cast("string").as("__t") :+
        success.cast("boolean").as("__s"): _*)
      .localCheckpoint() // feeds k, the completeness screen AND sums
    val (blocksK, kAgg) = completeBlockScreen(base, grp, groupCols,
      extraAggs = Seq(sum(when(col("__s"), 1L).otherwise(0L)).as("__r")))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val blockStats =
      (if (grp.isEmpty) blocksK.groupBy() else blocksK.groupBy(grp: _*))
        .agg(sum(when(col("__complete"), 1L).otherwise(0L)).as("n_blocks"),
          sum(when(!col("__complete"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("__complete"), d38(col("__r")))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("__T"),
          sum(when(col("__complete"), d38(col("__r")) * d38(col("__r")))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("__sR2"))
    val keep = blocksK.filter(col("__complete"))
      .select(grp :+ col("__b"): _*)
    val perT = base.join(keep, groupCols :+ "__b", "left_semi")
      .groupBy(grp :+ col("__t"): _*)
      .agg(sum(when(col("__s"), 1L).otherwise(0L)).as("__c"))
    val sC2 =
      (if (grp.isEmpty) perT.groupBy() else perT.groupBy(grp: _*))
        .agg(sum(d38(col("__c")) * d38(col("__c"))).as("__sC2"))
    val joined =
      (if (grp.isEmpty)
        blockStats.crossJoin(kAgg).crossJoin(sC2)
       else blockStats.join(kAgg, groupCols)
         .join(sC2, groupCols, "left"))
    val k38 = d38(col("__k"))
    val num = (k38 - 1) * (k38 * col("__sC2") - col("__T") * col("__T"))
    val den = k38 * col("__T") - col("__sR2")
    val zero38 = lit(0).cast("decimal(38,0)")
    joined.select(grp ++ Seq(col("n_blocks"), col("n_dropped"),
      col("__k").as("k"),
      when(col("__k") >= 2 && col("n_blocks") >= 1 && den > zero38,
        num.cast("double") / den.cast("double")).as("q")): _*)
  }

  /** The shared k-sample one-way ANOVA F dag of [[oneWayAnova]] and
    * [[brownForsytheK]]: over a frame carrying `(grp..., __v variant,
    * __z9 decimal(19,0)-quantized observation)`, per-variant exact
    * counters (n_g, Σz9, Σz9²), then
    *   `F = (N−k)/(k−1) · Σ_g n_g(z̄_g − z̄)² / Σ_g (Σz9²_g − n_g z̄_g²)`
    * with the two Σ_g as variant-pinned float folds (k terms — variant
    * cardinality, not corpus; `exactOrder=false` = plain sums). The
    * 1e9 quantization scale cancels in the ratio but both engines walk
    * the same scaled doubles. Emits per group:
    * `n, k, f (+ eta_sq = ssb/(ssb+ssw))`; NULL F when k < 2, N ≤ k,
    * or zero within-variance. */
  private def anovaFOverQuantized(quantized: DataFrame, grp: Seq[Column],
      groupCols: Seq[String], exactOrder: Boolean): DataFrame = {
    val perVar = quantized.groupBy(grp :+ col("__v"): _*)
      .agg(count(lit(1)).as("__ng"),
        sum(col("__z9").cast("decimal(38,0)")).as("__s1"),
        sum((col("__z9") * col("__z9")).cast("decimal(38,0)")).as("__s2"))
    val totals =
      (if (grp.isEmpty) perVar.groupBy() else perVar.groupBy(grp: _*))
        .agg(sum(col("__ng")).as("n"), count(lit(1)).as("k"),
          sum(col("__s1")).as("__gs1"))
    val joined =
      (if (grp.isEmpty) perVar.crossJoin(broadcast(totals))
       else perVar.join(totals, groupCols))
        .withColumn("__zg",
          col("__s1").cast("double") / col("__ng").cast("double"))
        .withColumn("__zbar",
          col("__gs1").cast("double") / col("n").cast("double"))
    def fold(key: Column, term: Column) = pinnedFold(key, term, exactOrder)
    val sums =
      (if (grp.isEmpty) joined.groupBy() else joined.groupBy(grp: _*))
        .agg(max(col("n")).as("n"), max(col("k")).as("k"),
          fold(col("__v"), col("__ng").cast("double") *
            (col("__zg") - col("__zbar")) *
            (col("__zg") - col("__zbar"))).as("__ssb"),
          // each within term clamps at zero: s2 − ng·zg² is computed in
          // float from exact decimals, so a near-constant variant with
          // |z9| past 2^53 can round to a TINY NEGATIVE where the true
          // within-variance is 0 — and a negative __ssw would NULL F
          // where between-variance genuinely exists (r17 ADVICE). The
          // oracle clamps its list elements identically.
          fold(col("__v"), greatest(col("__s2").cast("double") -
            col("__ng").cast("double") * col("__zg") * col("__zg"),
            lit(0.0)))
            .as("__ssw"))
    val (f, eta) = anovaFFromSums(col("n"), col("k"),
      col("__ssb"), col("__ssw"))
    sums.select(grp ++ Seq(col("n"), col("k"),
      f.as("f"), eta.as("eta_sq")): _*)
  }

  /** The final one-way-ANOVA projection over (N, k, ssb, ssw) —
    * `F = (N−k)/(k−1)·ssb/ssw` and `eta² = ssb/(ssb+ssw)` with the
    * degenerate guards (k < 2, N ≤ k, zero within-variance → NULL F) —
    * shared STRUCTURALLY between [[anovaFOverQuantized]] (batch, the
    * variant-pinned folds) and
    * [[graft.streaming.Streaming.windowedAnovaGate]] (live, the
    * pivoted fixed-width counters): the batch-dag-verbatim promise is
    * one definition, not two spellings (the `signZ` discipline).
    * Returned UNALIASED. */
  private[graft] def anovaFFromSums(n: Column, k: Column,
      ssb: Column, ssw: Column): (Column, Column) = {
    val kD = k.cast("double")
    val nD = n.cast("double")
    val f = when(k >= 2 && n > k,
      when(ssw > 0.0, (nD - kD) / (kD - lit(1.0)) * ssb / ssw))
    val eta = when(k >= 2 && ssb + ssw > 0.0, ssb / (ssb + ssw))
    (f, eta)
  }

  /** One-way ANOVA F per group — the PARAMETRIC k-sample location
    * test beside [[kruskalWallis]]'s rank form: k variants' MEANS
    * compared on the raw (1e-9-quantized) values. Use this when the
    * metric is well-behaved and the mean is the quantity under test
    * (cost per request, tokens per doc); use Kruskal–Wallis when the
    * tail owns the mean. Reports `eta_sq` (ssb/(ssb+ssw)) — the
    * variance-explained effect size reviewers ask for beside F.
    *
    * Money-column discipline: values 1e-9-quantize into exact
    * decimal(19,0) (|x| ≤ 9e9 or a loud raise — the [[brownForsythe]]
    * bound), per-variant Σ and Σ² are exact decimal(38,0), the two
    * k-sized cross-variant folds are variant-pinned
    * ([[fleissKappa]]'s exactOrder knob), F is one fixed IEEE dag; no
    * p-value (no-libm) — threshold against F_{k−1,N−k} (≈ χ²_{k−1}/
    * (k−1) at large N; 3.0 is the 95% gate at k = 3, large N). NULL
    * variant/value rows drop. Scale shape: one filter + two
    * hash-aggs, full stop. Output per group: `n, k, f, eta_sq`. */
  def oneWayAnova(variant: Column, value: Column,
      groupCols: Seq[String] = Nil,
      exactOrder: Boolean = true)(df: DataFrame): DataFrame = {
    val grp = groupCols.map(col)
    val x = value.cast("double")
    val base = df
      .filter(variant.isNotNull && value.isNotNull)
      .select(grp :+ variant.cast("string").as("__v") :+
        quantize9("oneWayAnova", "|value|", "values")(x).as("__z9"): _*)
    anovaFOverQuantized(base, grp, groupCols, exactOrder)
  }

  /** k-sample Brown–Forsythe per group — [[brownForsythe]]'s axis
    * extended to k variants, exactly as [[kruskalWallis]] extends
    * [[mannWhitneyU]]: did the SPREAD move across ANY of the arms?
    * Per (group, variant) the exact selection median, deviations
    * `|x − med_v|` 1e-9-quantized (9e9 bound, loud), then the SAME
    * one-way ANOVA F dag as [[oneWayAnova]] (shared
    * `anovaFOverQuantized` — the structural-sharing discipline) on
    * the deviation samples. Two variants reduce to the two-sample op
    * (F equal within float noise of its differently-grouped dag;
    * spec-pinned). NULL variant/value rows drop. Scale shape: one
    * per-(group, variant) median window + two hash-aggs. Output per
    * group: `n, k, f, eta_sq`. */
  def brownForsytheK(variant: Column, value: Column,
      groupCols: Seq[String] = Nil,
      exactOrder: Boolean = true)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val base = df
      .filter(variant.isNotNull && value.isNotNull)
      .select(grp :+ variant.cast("string").as("__v") :+
        value.cast("double").as("__x"): _*)
    val wOrd = Window.partitionBy(grp :+ col("__v"): _*).orderBy(col("__x"))
    val wAll = Window.partitionBy(grp :+ col("__v"): _*)
    val med = base
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("__c", count(lit(1)).over(wAll))
      .filter(col("__rn") === floor((col("__c") + 1) / 2).cast("long") ||
        col("__rn") === floor(col("__c") / 2).cast("long") + 1)
      .groupBy(grp :+ col("__v"): _*)
      .agg(((min(col("__x")) + max(col("__x"))) / lit(2.0)).as("__med"))
    val devAbs = abs(col("__x") - col("__med"))
    val dev = base.join(med, groupCols :+ "__v")
      .select(grp :+ col("__v") :+
        quantize9("brownForsytheK", "|x - median|", "deviations")(devAbs)
          .as("__z9"): _*)
    anovaFOverQuantized(dev, grp, groupCols, exactOrder)
  }

  def brownForsythe(side: Column, value: Column,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = groupCols.map(col)
    val base = df
      .filter(side.isNotNull && value.isNotNull)
      .select(grp :+ side.cast("boolean").as("__a") :+
        value.cast("double").as("__x"): _*)
    val wOrd = Window.partitionBy(grp :+ col("__a"): _*).orderBy(col("__x"))
    val wAll = Window.partitionBy(grp :+ col("__a"): _*)
    val med = base
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("__c", count(lit(1)).over(wAll))
      .filter(col("__rn") === floor((col("__c") + 1) / 2).cast("long") ||
        col("__rn") === floor(col("__c") / 2).cast("long") + 1)
      .groupBy(grp :+ col("__a"): _*)
      .agg(((min(col("__x")) + max(col("__x"))) / lit(2.0)).as("__med"))
    // the quantization bound, stated loudly: |x − med| 1e-9-scales into
    // decimal(19,0), so past 9e9 the cast would overflow — non-ANSI
    // Spark NULLs (sum silently skips) where the oracle's DECIMAL cast
    // errors. raise_error instead: both engines are loud, neither is
    // silently wrong (the modularity-contract discipline)
    val devAbs = abs(col("__x") - col("__med"))
    val dev = base.join(med, groupCols :+ "__a")
      .withColumn("__z9",
        quantize9("brownForsythe", "|x - median|", "deviations")(devAbs))
    val zero38 = lit(0).cast("decimal(38,0)")
    val sideAgg = dev.groupBy(grp :+ col("__a"): _*)
      .agg(count(lit(1)).as("__n"),
        sum(col("__z9").cast("decimal(38,0)")).as("__s1"),
        sum((col("__z9") * col("__z9")).cast("decimal(38,0)")).as("__s2"),
        max(col("__med")).as("__med"))
    val both =
      (if (grp.isEmpty) sideAgg.groupBy() else sideAgg.groupBy(grp: _*))
        .agg(
          sum(when(col("__a"), col("__n")).otherwise(0L)).as("n_a"),
          sum(when(!col("__a"), col("__n")).otherwise(0L)).as("n_b"),
          max(when(col("__a"), col("__med"))).as("med_a"),
          max(when(!col("__a"), col("__med"))).as("med_b"),
          sum(when(col("__a"), col("__s1")).otherwise(zero38)).as("__s1a"),
          sum(when(!col("__a"), col("__s1")).otherwise(zero38)).as("__s1b"),
          sum(when(col("__a"), col("__s2")).otherwise(zero38)).as("__s2a"),
          sum(when(!col("__a"), col("__s2")).otherwise(zero38)).as("__s2b"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val za = col("__s1a").cast("double") / naD
    val zb = col("__s1b").cast("double") / nbD
    val grand = (col("__s1a") + col("__s1b")).cast("double") / (naD + nbD)
    val ssb = naD * (za - grand) * (za - grand) +
      nbD * (zb - grand) * (zb - grand)
    val ssw = (col("__s2a").cast("double") - naD * za * za) +
      (col("__s2b").cast("double") - nbD * zb * zb)
    // nested guard: the OUTER when must decide before ssw/ssb (and
    // their za/zb divisions) are evaluated — ANSI mode treats the
    // empty-side 0/0 as an error, not a NaN
    both.select(grp ++ Seq(col("n_a"), col("n_b"), col("med_a"),
      col("med_b"),
      when(col("n_a") > 0 && col("n_b") > 0,
        when(ssw > 0.0, (naD + nbD - lit(2.0)) * ssb / ssw)).as("f")): _*)
  }

  /** Two-sample pooled proportion z-test per group — the A/B answer
    * for PASS RATES ([[mannWhitneyU]] compares value distributions;
    * this compares binomial rates: gate pass %, dedup hit %, eval
    * accuracy between two pipeline variants). Beside
    * [[proportionCI]]'s one-sample Wilson interval: the CI says how
    * sure we are about one rate, this says whether two rates differ.
    *
    * With exact counts `(k_a, n_a, k_b, n_b)` and the pooled
    * `p̂ = (k_a+k_b)/(n_a+n_b)`:
    * `z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b))` — every input an
    * exact integer, the statistic one fixed IEEE dag with one sqrt.
    * No p-value (the no-libm doctrine): threshold |z| — 1.96 IS the
    * 95% gate. An empty side, or a degenerate pool (p̂ ∈ {0, 1}, zero
    * variance) reads NULL z; the rates and `risk_diff = p_a − p_b`
    * stay reported where defined. NULL side/success rows drop.
    *
    * Scale shape: one filter + one hash-agg, full stop. Output per
    * group: `n_a, k_a, n_b, k_b, p_a, p_b, risk_diff, z`. */
  /** The four exact counters and the pooled-z dag shared by
    * [[proportionZTest]] and
    * [[graft.streaming.Streaming.windowedProportionZ]] — one
    * definition, so a guard-semantics fix propagates to both and the
    * streaming twin's "batch dag verbatim" promise is structural, not
    * spec-enforced. Counters expect the side as `__a` and the success
    * flag as `__s`; stats read the counter columns by name and return
    * `(p_a, p_b, risk_diff, z)` with z UNALIASED (the streaming gate
    * thresholds it before naming). */
  private[graft] def sideSuccessCounters: Seq[Column] = Seq(
    sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
    sum(when(col("__a") && col("__s"), 1L).otherwise(0L)).as("k_a"),
    sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
    sum(when(!col("__a") && col("__s"), 1L).otherwise(0L)).as("k_b"))

  private[graft] def pooledZStats: (Column, Column, Column, Column) = {
    def d(c: String) = col(c).cast("double")
    val pa = d("k_a") / d("n_a")
    val pb = d("k_b") / d("n_b")
    val pool = (d("k_a") + d("k_b")) / (d("n_a") + d("n_b"))
    val variance = pool * (lit(1.0) - pool) *
      (lit(1.0) / d("n_a") + lit(1.0) / d("n_b"))
    (when(col("n_a") > 0, pa).as("p_a"),
      when(col("n_b") > 0, pb).as("p_b"),
      when(col("n_a") > 0 && col("n_b") > 0, pa - pb).as("risk_diff"),
      when(col("n_a") > 0 && col("n_b") > 0 && variance > 0.0,
        (pa - pb) / sqrt(variance)))
  }

  def proportionZTest(side: Column, success: Column,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val grp = groupCols.map(col)
    val base = df
      .filter(side.isNotNull && success.isNotNull)
      .select(grp :+ side.cast("boolean").as("__a") :+
        success.cast("boolean").as("__s"): _*)
    val agg =
      (if (grp.isEmpty) base.groupBy() else base.groupBy(grp: _*))
        .agg(sideSuccessCounters.head, sideSuccessCounters.tail: _*)
    val (pa, pb, riskDiff, z) = pooledZStats
    agg.select(grp ++ Seq(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      pa, pb, riskDiff, z.as("z")): _*)
  }

  /** Cochran–Armitage trend test per group — the PROPORTIONS corner
    * of the ordered-alternative matrix ([[jonckheereTerpstra]] =
    * continuous unpaired, [[pageTest]] = paired; this = success RATES
    * across ordered doses — the funnel/rollout sweep every gated
    * pipeline runs: does the pass rate rise monotonically with the
    * exposure tier?). [[proportionZTest]] compares two rates;
    * [[cochranQ]] asks "did ANY arm move"; this spends its one degree
    * of freedom on the ORDERED alternative and beats both on a
    * monotone dose response.
    *
    * With dose scores w_i (the dose VALUES — integer by contract, see
    * below), per-dose trials n_i and successes k_i, n = Σn_i,
    * K = Σk_i:
    *   `T = n·Σw_i·k_i − K·Σw_i·n_i  (= Σ w_i(k_i·n − n_i·K))`
    *   `Var(T) = K(n−K)·(n·Σw_i²n_i − (Σw_i·n_i)²) / n`
    * — the prop.trend.test normalization, chosen (over the
    * hypergeometric (n−1) variant) precisely so k = 2 with scores
    * {0, 1} reduces to [[proportionZTest]]'s pooled z ALGEBRAICALLY
    * (property-spec-pinned); `z = T/√Var(T)`, positive when the rate
    * RISES with dose. Every Σ is an exact decimal(38,0) hash-agg off
    * exact integer counts; the two Var legs multiply as doubles of
    * exact integers (the [[mannKendall]] cross-product spelling) into
    * one division — no libm, no p-value: |z| ≥ 1.96 IS the two-sided
    * 95% gate, 1.64 the one-sided. Score algebra is exact: shifting
    * all doses by a constant leaves T and Var IDENTICAL (integer
    * legs), reversing the dose order negates z exactly — both
    * property-spec-pinned.
    *
    * INTEGER-SCORE CONTRACT: dose values must be integers with
    * |w| ≤ 1e6 (dose indices, day numbers, exposure tiers) so every
    * leg stays exact in decimal(38,0); a fractional or oversized dose
    * raises LOUDLY (the quantize9 silent-vs-loud doctrine) — rescale
    * the dose axis first. Degenerate reads: one dose level, K = 0,
    * K = n, or constant scores → zero variance → NULL z with honest
    * counts. NULL dose/success rows drop.
    *
    * Scale shape: one hash-agg to (group, dose) cells, one k-sized
    * group agg, full stop — no windows, no joins. Output per group:
    * `k, n, successes, t_trend, z`. */
  def cochranArmitage(dose: Column, success: Column,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val grp = groupCols.map(col)
    val wD = dose.cast("double")
    val base = df
      .filter(dose.isNotNull && success.isNotNull)
      .select(grp :+
        when(wD =!= floor(wD) || abs(wD) > lit(1.0e6),
          raise_error(concat(lit("cochranArmitage: dose score "),
            wD.cast(StringType),
            lit(" is not an integer in [-1e6, 1e6] — scores must be" +
              " exact small integers (dose indices); rescale the" +
              " dose axis"))).cast("long"))
          .otherwise(wD.cast("long")).as("__w") :+
        success.cast("boolean").as("__s"): _*)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val cells = base.groupBy(grp :+ col("__w"): _*)
      .agg(count(lit(1)).as("__ni"),
        sum(when(col("__s"), 1L).otherwise(0L)).as("__ki"))
    val agg =
      (if (grp.isEmpty) cells.groupBy() else cells.groupBy(grp: _*))
        .agg(count(lit(1)).as("k"),
          sum(col("__ni")).as("n"),
          sum(col("__ki")).as("successes"),
          sum(d38(col("__w")) * d38(col("__ni"))).as("__swn"),
          sum(d38(col("__w")) * d38(col("__w")) * d38(col("__ni")))
            .as("__sw2n"),
          sum(d38(col("__w")) * d38(col("__ki"))).as("__swk"))
    val n38 = d38(col("n"))
    val k38 = d38(col("successes"))
    val t = n38 * col("__swk") - k38 * col("__swn")
    val varA = k38 * (n38 - k38)
    val varB = n38 * col("__sw2n") - col("__swn") * col("__swn")
    val varT = varA.cast("double") * varB.cast("double") /
      col("n").cast("double")
    agg.select(grp ++ Seq(col("k"), col("n"), col("successes"),
      t.cast("double").as("t_trend"),
      when(col("k") >= 2 && varT > 0.0,
        t.cast("double") / sqrt(varT)).as("z")): _*)
  }

  /** The exact two-middle-ranks selection median of the Theil–Sen
    * family ([[theilSen]], [[seasonalTheilSen]]): rows row_number-
    * pinned by (value, tie columns) within each `gName` partition,
    * the median read as `(min + max)/2` of the one or two middle rows
    * (odd/even) — a fixed dag over order-free extrema, no
    * accumulation anywhere. Spark's `/` on longs is TRUE division
    * (double) — floor+cast makes both middle indices the integer
    * ranks the oracle's `//` computes. Returns per-key
    * `(gName, cntOut, out)`. ONE definition so the pooled seasonal
    * median provably selects exactly as the plain estimator. */
  private def selectionMedian(frame: DataFrame, gName: String,
      v: String, ties: Seq[String], out: String,
      cntOut: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col(gName))
      .orderBy(col(v) +: ties.map(col): _*)
    val wAll = Window.partitionBy(col(gName))
    val ranked = frame
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("__c", count(lit(1)).over(wAll))
    ranked
      .filter(col("__rn") === floor((col("__c") + 1) / 2).cast("long") ||
        col("__rn") === floor(col("__c") / 2).cast("long") + 1)
      .groupBy(col(gName))
      .agg(max(col("__c")).as(cntOut),
        ((min(col(v)) + max(col(v))) / lit(2.0)).as(out))
  }

  /** The shared slope-pair frame of the Theil–Sen family
    * ([[theilSen]], [[theilSenCI]], [[seasonalTheilSen]]):
    * NULL-dropped points as `(__g, __i, __x, __y)`, the
    * [[pairSizeGuard]]-guarded `i_a < i_b` self-join with vertical
    * pairs dropped, and the per-pair slope `__s` — ONE definition so
    * the CI's "same slopes as the estimator" promise is structural,
    * not textual (the `logRankImpl` discipline). `op` names the
    * PUBLIC caller in the guard raises (the [[mannKendallStats]]
    * lesson); the guard also enforces the unique-id contract
    * (duplicate ids raise — r19 ADVICE). Returns
    * (base, sized, pairs). */
  // private[graft]: ProbesSpec asserts the guard-below-join plan shape
  // on this shared generator directly — the public Theil–Sen ops pin
  // their tiny medians/selections (r20), which hides the pair dag from
  // their own optimized plans
  private[graft] def theilSenPairs(groupField: String, idField: String,
      xField: String, yField: String, maxN: Int,
      op: String = "theilSen")(
      df: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    require(maxN >= 2 && maxN <= 100000,
      s"maxN must be in [2, 100000], got $maxN")
    val base = df
      .filter(col(xField).isNotNull && col(yField).isNotNull &&
        col(idField).isNotNull)
      .select(col(groupField).as("__g"), col(idField).as("__i"),
        col(xField).cast("double").as("__x"),
        col(yField).cast("double").as("__y"))
    // the quadratic guard, threaded onto side a so the raise fires
    // BELOW the pair join (the pairSizeGuard contract)
    val sized = pairSizeGuard(base, op, maxN,
      "trend a bounded slice", Some(col("__i")))
    val a = base
      .join(sized.select(col("__g"), col("__n").as("__na")), Seq("__g"))
      .select(col("__g"), col("__i").as("__ia"),
        col("__x").as("__xa"), col("__y").as("__ya"), col("__na"))
    val b = base.select(col("__g"), col("__i").as("__ib"),
      col("__x").as("__xb"), col("__y").as("__yb"))
    val pairs = a.join(b, Seq("__g"))
      .filter(col("__ia") < col("__ib") && col("__xa") =!= col("__xb") &&
        col("__na") <= lit(maxN))
      .withColumn("__s",
        (col("__yb") - col("__ya")) / (col("__xb") - col("__xa")))
    (base, sized, pairs)
  }

  /** Theil–Sen robust trend estimator per group — the median of all
    * pairwise slopes, with the median-residual intercept: the drift
    * RATE report ([[graft.ops.WindowOps.cusumShift]] says "a shift
    * happened", [[graft.ops.WindowOps.holtSmooth]] tracks it; this
    * states the trend as one number) that a 29%-contamination
    * breakdown point makes immune to the outliers that drag ordinary
    * least squares — the standard robust line for noisy pipeline
    * metrics.
    *
    * Pair enumeration is the [[kendallTau]] contract verbatim:
    * explicit `id_a < id_b` within-group self-join, O(n²) BY
    * CONSTRUCTION, `maxN`-guarded with a loud raise_error — trend a
    * bounded metric slice (daily rollups, sampled probes), not a raw
    * corpus. Vertical pairs (x_a = x_b, slope undefined) drop, per
    * the standard definition.
    *
    * Determinism: both medians are exact SELECTIONS — rows are
    * row_number-pinned by (value, pair ids) and the median is
    * `(min + max)/2` of the one or two middle rows (odd/even), a
    * fixed dag over order-free extrema; no accumulation anywhere.
    * The slope is one IEEE division per pair, the residuals one
    * multiply-subtract per point. A group with no valid pairs (all x
    * equal, or a single row) reads NULL slope/intercept with honest
    * counts. NULL id/x/y rows drop.
    *
    * Scale shape: the guarded pair join + two window-sorts (pairs,
    * then points) per group partition. Output per group:
    * `n, n_pairs, slope, intercept`. */
  def theilSen(groupField: String, idField: String, xField: String,
      yField: String, maxN: Int = 10000)(df: DataFrame): DataFrame = {
    val (base, sized, pairs) = theilSenPairs(groupField, idField,
      xField, yField, maxN)(df)
    def medianOf(frame: DataFrame, v: String, ties: Seq[String],
        out: String, cntOut: String): DataFrame =
      selectionMedian(frame, "__g", v, ties, out, cntOut)
    // ms is consumed TWICE (the residual frame below and the final
    // join), and both consumers broadcast it — each broadcast build
    // re-executed the whole guarded pair join + 2.5M-row median
    // window subtree (measured: 2 × ~3.9 s window stages of theil_sen's
    // 9.5 s at sf0.1). Pinning the ≤|groups|-row result runs that
    // subtree ONCE; values are bit-identical (same dag, materialized).
    val ms = medianOf(pairs, "__s", Seq("__ia", "__ib"),
      "slope", "n_pairs").localCheckpoint()
    val res = base.join(ms.select(col("__g"), col("slope")), Seq("__g"))
      .withColumn("__r", col("__y") - col("slope") * col("__x"))
    val mi = medianOf(res, "__r", Seq("__i"), "intercept", "__cpts")
    sized
      .join(ms, Seq("__g"), "left")
      .join(mi.select(col("__g"), col("intercept")), Seq("__g"), "left")
      .select(col("__g").as(groupField), col("__n").as("n"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("slope"), col("intercept"))
  }

  /** One axis's tie-group masses for the bivariate Mann–Kendall
    * variance — Σt(t−1)(2t+5), Σt(t−1)(t−2), Σt(t−1) as exact
    * decimal(38,0) hash-aggs per `__g`, column-prefixed `vt` (the
    * value axis) or `ut` (the time axis). ONE definition feeding
    * [[mannKendallStats]] AND [[theilSenCI]], so the CI's "the SAME
    * Mann–Kendall variance" promise is structural (review-caught
    * duplication). */
  private def mkTieMassFrame(base: DataFrame, axis: String,
      prefix: String): DataFrame = {
    val tc = col("__tc").cast("decimal(38,0)")
    base.groupBy(col("__g"), col(axis))
      .agg(count(lit(1)).as("__tc"))
      .groupBy(col("__g"))
      .agg(sum(tc * (tc - 1) * (tc * 2 + 5)).as(s"__${prefix}25"),
        sum(tc * (tc - 1) * (tc - 2)).as(s"__${prefix}3"),
        sum(tc * (tc - 1)).as(s"__${prefix}2"))
  }

  /** Kendall's bivariate tie-corrected Var(S) off the joined mass
    * columns (`__n`, `__vt*`, `__ut*`) — UNALIASED. The two cross
    * products exceed decimal(38,0) range at the bound, so they
    * multiply as DOUBLES of exact integers (the jonckheere spelling,
    * oracle-mirrored); each term guards its own zero denominator (the
    * Σ legs are identically 0 there anyway). */
  private def mkVarS: Column = {
    val n38 = col("__n").cast("decimal(38,0)")
    val nD = col("__n").cast("double")
    val aLeg = n38 * (n38 - 1) * (n38 * 2 + 5) -
      col("__vt25") - col("__ut25")
    val varB = when(nD > 2.0,
      col("__vt3").cast("double") * col("__ut3").cast("double") /
        (lit(9.0) * nD * (nD - lit(1.0)) * (nD - lit(2.0))))
      .otherwise(lit(0.0))
    val varC = when(nD > 1.0,
      col("__vt2").cast("double") * col("__ut2").cast("double") /
        (lit(2.0) * nD * (nD - lit(1.0))))
      .otherwise(lit(0.0))
    aLeg.cast("double") / lit(18.0) + varB + varC
  }

  /** The shared per-key S/variance frame of the Mann–Kendall family
    * ([[mannKendall]], [[seasonalMannKendall]]): `base` carries the
    * key as `__g` (a struct for the seasonal form) plus
    * `__i`/`__t`/`__x`; returns per-key `(__g, __n, __s, __vs)` with
    * the exact pair S and the bivariate tie-corrected variance — ONE
    * definition so the seasonal op's "the same S and variance, summed
    * over seasons" promise is structural, not textual. `op` names the
    * PUBLIC caller in the quadratic-guard raise (review-caught: a
    * seasonal user never called "mannKendall"). */
  private def mannKendallStats(base: DataFrame, maxN: Int,
      op: String): DataFrame = {
    require(maxN >= 2 && maxN <= 100000,
      s"maxN must be in [2, 100000], got $maxN")
    // the quadratic guard, threaded onto side a so the raise fires
    // BELOW the pair join (the pairSizeGuard contract); duplicate ids
    // raise too — the variance legs count n(n−1)/2 pairs arithmetically
    // while duplicate ids shrink the real frame (r19 ADVICE)
    val sized = pairSizeGuard(base, op, maxN,
      "trend a bounded slice", Some(col("__i")))
    val a = base
      .join(sized.select(col("__g"), col("__n").as("__na")), Seq("__g"))
      .select(col("__g"), col("__i").as("__ia"),
        col("__t").as("__ta"), col("__x").as("__xa"), col("__na"))
    val b = base.select(col("__g"), col("__i").as("__ib"),
      col("__t").as("__tb"), col("__x").as("__xb"))
    val pairs = a.join(b, Seq("__g"))
      .filter(col("__ia") < col("__ib") && col("__na") <= lit(maxN))
    val st = when(col("__ta") < col("__tb"), 1)
      .when(col("__ta") > col("__tb"), -1).otherwise(0)
    val sx = when(col("__xa") < col("__xb"), 1)
      .when(col("__xa") > col("__xb"), -1).otherwise(0)
    val sAgg = pairs.groupBy(col("__g"))
      .agg(sum((st * sx).cast("long")).as("__s"))
    val joined = sized
      .join(sAgg, Seq("__g"), "left")
      .join(mkTieMassFrame(base, "__x", "vt"), Seq("__g"), "left")
      .join(mkTieMassFrame(base, "__t", "ut"), Seq("__g"), "left")
    joined.select(col("__g"), col("__n"),
      coalesce(col("__s"), lit(0L)).as("__s"), mkVarS.as("__vs"))
  }

  /** The ±1 continuity-corrected Mann–Kendall z over an exact S and
    * its variance — UNALIASED; exact 0.0 at S = 0. ONE definition
    * serves [[mannKendall]] and [[seasonalMannKendall]] (the
    * [[signZOf]] discipline). Callers guard the zero-variance NULL. */
  private def mkContinuityZ(s: Column, vs: Column): Column = {
    val sD = s.cast("double")
    when(s > 0L, (sD - lit(1.0)) / sqrt(vs))
      .when(s < 0L, (sD + lit(1.0)) / sqrt(vs))
      .otherwise(lit(0.0))
  }

  /** Mann–Kendall trend test per group — the significance gate
    * [[theilSen]] ships without: the robust slope says HOW FAST the
    * metric drifts, this says whether the monotone trend is REAL
    * (same assumption-free null — no linearity, no normality), the
    * standard companion pair for noisy pipeline metrics.
    *
    * `S = Σ_{i<j} sgn(t_j − t_i)·sgn(x_j − x_i)` over the explicit
    * within-group pair frame — the [[kendallTau]] concordance
    * machinery verbatim (S IS Kendall's C − D between time and value;
    * pairs tied on time contribute exact 0), O(n²) BY CONSTRUCTION
    * and `maxN`-guarded with the same loud raise_error: trend a
    * bounded metric slice (daily rollups, sampled probes), not a raw
    * corpus.
    *
    * Exactness: S is an exact integer off one hash-agg; the variance
    * is Kendall's full bivariate tie-corrected form (Kendall 1975;
    * the Helsel–Hirsch water-quality standard),
    *   `Var(S) = [N(N−1)(2N+5) − Σ_t t(t−1)(2t+5) − Σ_u u(u−1)(2u+5)]/18
    *           + Σ_t t(t−1)(t−2)·Σ_u u(u−1)(u−2) / (9N(N−1)(N−2))
    *           + Σ_t t(t−1)·Σ_u u(u−1) / (2N(N−1))`
    * (t = value tie-group sizes, u = TIME tie-group sizes — with
    * distinct times the u-legs vanish and this IS the textbook
    * one-variable MK variance `(N(N−1)(2N+5) − Σt(t−1)(2t+5))/18`;
    * the [[jonckheereTerpstra]] `__sn25` shape, every Σ an exact
    * decimal(38,0) hash-agg, the two cross products multiplying as
    * doubles of exact integers). z carries the ±1 continuity
    * correction: `z = (S∓1)/√Var(S)` for S ≷ 0, exact 0.0 at S = 0.
    * No p-value (the no-libm doctrine): |z| ≥ 1.96 IS the 95% gate,
    * 1.64 the one-sided. Degenerate reads: zero variance (all values
    * or all times tied, or n < 2) → NULL z with the honest exact S.
    * NULL id/time/value rows drop. UNIQUE-ID CONTRACT: the variance
    * legs count n(n−1)/2 pairs arithmetically while duplicate ids
    * silently shrink the real `i_a < i_b` frame — the shared guard
    * raises loudly on duplicate ids (r19 ADVICE).
    *
    * Scale shape: the guarded pair join + three hash-aggs (pairs,
    * value ties, time ties). Output per group: `n, s, var_s, z`. */
  def mannKendall(groupField: String, idField: String, tField: String,
      xField: String, maxN: Int = 10000)(df: DataFrame): DataFrame = {
    val base = df
      .filter(col(tField).isNotNull && col(xField).isNotNull &&
        col(idField).isNotNull)
      .select(col(groupField).as("__g"), col(idField).as("__i"),
        col(tField).as("__t"), col(xField).as("__x"))
    val stats = mannKendallStats(base, maxN, "mannKendall")
    stats.select(col("__g").as(groupField), col("__n").as("n"),
      col("__s").as("s"),
      when(col("__n") >= 2, col("__vs")).as("var_s"),
      when(col("__n") >= 2 && col("__vs") > 0.0,
        mkContinuityZ(col("__s"), col("__vs"))).as("z"))
  }

  /** Seasonal Mann–Kendall per group — [[mannKendall]] for metrics
    * with a periodic cycle (day-of-week load, monthly seasonality),
    * where the plain test reads the SEASON as trend: S and the
    * bivariate tie-corrected variance compute WITHIN each season
    * (only same-season observations pair, so the weekly/monthly shape
    * cancels by construction — Hirsch–Slack's water-quality
    * standard, seasons-independent form), then
    *   `S' = Σ_m S_m`, `Var' = Σ_m Var(S_m)`,
    * with the same ±1 continuity-corrected z on the sums. The
    * per-season frames are the EXACT [[mannKendall]] dag (one shared
    * `mannKendallStats` definition keyed by a (group, season)
    * struct); the variance sum is a season-pinned float fold
    * (`exactOrder=false` = plain sum for production). One season
    * reduces to [[mannKendall]] exactly (spec-pinned). Degenerate
    * reads: single-observation seasons contribute exact-0 S and
    * variance (no information, not noise); all-tied or too-small
    * groups read NULL z with honest counts. NULL
    * season/id/time/value rows drop. The maxN guard bounds each
    * (group, season) slice — the quadratic pair frame is per-season.
    * Output per group: `n, n_seasons, s, var_s, z`. */
  def seasonalMannKendall(groupField: String, seasonField: String,
      idField: String, tField: String, xField: String,
      maxN: Int = 10000, exactOrder: Boolean = true)(
      df: DataFrame): DataFrame = {
    val base = df
      .filter(col(seasonField).isNotNull && col(tField).isNotNull &&
        col(xField).isNotNull && col(idField).isNotNull)
      .select(struct(col(groupField).as("g"),
        col(seasonField).as("sea")).as("__g"),
        col(idField).as("__i"), col(tField).as("__t"),
        col(xField).as("__x"))
    val stats = mannKendallStats(base, maxN, "seasonalMannKendall")
    val per = stats.select(col("__g").getField("g").as("__grp"),
      col("__g").getField("sea").as("__sea"), col("__n"), col("__s"),
      col("__vs"))
    val agg = per.groupBy(col("__grp"))
      .agg(sum(col("__n")).as("n"),
        count(lit(1)).as("n_seasons"),
        sum(col("__s")).as("s"),
        pinnedFold(col("__sea"), col("__vs"), exactOrder).as("__vsum"))
    agg.select(col("__grp").as(groupField), col("n"), col("n_seasons"),
      col("s"),
      when(col("n") >= 2, col("__vsum")).as("var_s"),
      when(col("n") >= 2 && col("__vsum") > 0.0,
        mkContinuityZ(col("s"), col("__vsum"))).as("z"))
  }

  /** Sen's slope confidence interval per group — the inference
    * companion closing the trend loop: [[theilSen]] states the robust
    * RATE, [[mannKendall]] gates its EXISTENCE, this brackets the
    * rate ("drift is 2.1 items/day, CI [1.7, 2.6]") — the
    * distribution-free Gilbert/Helsel interval built from the SAME
    * pairwise slopes and the SAME Mann–Kendall variance, no residual
    * normality assumed anywhere.
    *
    * Construction (Gilbert 1987 §17.3, the water-quality standard):
    * over the N' defined pairwise slopes in ascending order (pinned
    * by (slope, id_a, id_b) — deterministic through ties),
    *   `C = zCrit·√Var(S)`  (Var(S) = the [[mannKendall]] bivariate
    *     tie-corrected variance over the SAME points),
    *   `M1 = (N' − C)/2`, `M2 = (N' + C)/2`,
    * and the limits are the slopes at ranks `max(1, ⌊M1⌋)` and
    * `min(N', ⌊M2⌋ + 1)` — ROUNDED OUTWARD on both sides
    * (conservative: the reported interval can only be wider than the
    * fractional-rank ideal, never narrower; the convention is
    * documented because Gilbert leaves the rounding to the reader).
    * The point estimate is the same two-middle-ranks median as
    * [[theilSen]] (identical selection, identical IEEE average).
    * Degenerate reads: C ≥ N' clamps to the extreme slopes (an
    * honestly-wide interval is a finding — "the data cannot bracket
    * the trend"); zero variance or no valid pairs → NULL limits with
    * the honest slope/counts. Pair frame, guard, and vertical-pair
    * drop are ONE shared [[theilSenPairs]] definition with the
    * estimator. UNIQUE-ID CONTRACT: N′ derives arithmetically from n
    * and the x-tie mass, which assumes one row per id — duplicate ids
    * would shrink the real `i_a < i_b` frame while the formula still
    * counts those pairs, landing rank selections on nonexistent
    * ranks; the shared guard raises loudly on duplicate ids instead
    * (r19 ADVICE). Scale shape: the guarded pair join + one rank
    * window + three hash-aggs. Output per group:
    * `n, n_pairs, slope, slope_lo, slope_hi`. */
  def theilSenCI(groupField: String, idField: String, xField: String,
      yField: String, maxN: Int = 10000, zCrit: Double = 1.96)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(zCrit > 0.0 && zCrit <= 100.0,
      s"zCrit must be in (0, 100]: $zCrit")
    val (base, sized, pairs) = theilSenPairs(groupField, idField,
      xField, yField, maxN, op = "theilSenCI")(df)
    def d38(c: Column) = c.cast("decimal(38,0)")
    // the SAME Mann–Kendall tie masses and variance dag over the same
    // points — t over values, u over times (one shared definition,
    // the mkTieMassFrame/mkVarS machinery)
    val joined = sized
      .join(mkTieMassFrame(base, "__y", "vt"), Seq("__g"), "left")
      .join(mkTieMassFrame(base, "__x", "ut"), Seq("__g"), "left")
    val n38 = d38(col("__n"))
    val varS = mkVarS
    // N' without a second pair-join execution: the defined slopes are
    // exactly the pairs NOT tied on x, so N' = (n(n−1) − Σt_x(t_x−1))/2
    // off the already-computed time-tie mass — exact integers, always
    // even (review-caught: counting the pair frame would scan the
    // quadratic join twice; this leaves the rank selection as its
    // only consumer)
    val np = ((n38 * (n38 - 1) - coalesce(col("__ut2"),
      lit(0).cast("decimal(38,0)"))) / lit(2)).cast("long")
    val joinedNp = joined.withColumn("__np", np)
    val npD = col("__np").cast("double")
    val cW = lit(zCrit) * sqrt(varS)
    val live = col("__np") > 0L && varS > 0.0
    val bounds = joinedNp.select(col("__g"), col("__n"), col("__np"),
      when(live, greatest(lit(1L),
        floor((npD - cW) / lit(2.0)).cast("long"))).as("__rlo"),
      when(live, least(col("__np"),
        floor((npD + cW) / lit(2.0)).cast("long") + lit(1L)))
        .as("__rhi"),
      // the theilSen median selection verbatim: both middle ranks
      floor((col("__np") + 1) / 2).cast("long").as("__md1"),
      (floor(col("__np") / 2).cast("long") + lit(1L)).as("__md2"))
    val wOrd = Window.partitionBy(col("__g"))
      .orderBy(col("__s"), col("__ia"), col("__ib"))
    val ranked = pairs
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
    val sel = ranked
      .join(bounds.select(col("__g"), col("__rlo"), col("__rhi"),
        col("__md1"), col("__md2")), Seq("__g"))
      .groupBy(col("__g"))
      .agg(min(when(col("__rn") === col("__rlo"), col("__s")))
          .as("__slo"),
        min(when(col("__rn") === col("__rhi"), col("__s"))).as("__shi"),
        min(when(col("__rn") === col("__md1"), col("__s"))).as("__sm1"),
        min(when(col("__rn") === col("__md2"), col("__s"))).as("__sm2"))
      // pinned: ≤|groups| rows on top of the rank window over the
      // quadratic pair frame — the caller's closing range-sort samples
      // its child once before shuffling it, which re-executed the whole
      // 2.5M-row window (measured: 2 × ~2.2 s stages of the ~7 s sf0.1
      // cell). One window pass, bit-identical.
      .localCheckpoint()
    bounds.join(sel, Seq("__g"), "left")
      .select(col("__g").as(groupField), col("__n").as("n"),
        col("__np").as("n_pairs"),
        ((col("__sm1") + col("__sm2")) / lit(2.0)).as("slope"),
        col("__slo").as("slope_lo"), col("__shi").as("slope_hi"))
  }

  /** Seasonal Theil–Sen slope per group — the de-seasonalized drift
    * RATE completing the seasonal pair: [[seasonalMannKendall]] gates
    * whether a trend EXISTS underneath a periodic cycle; this states
    * HOW FAST it moves with the cycle cancelled by construction
    * (Hirsch–Slack 1984, the seasonal-Kendall slope): only SAME-
    * SEASON pairs produce slopes — a winter observation never pairs
    * with a summer one, so the seasonal shape contributes no pair —
    * and the estimate is the median over the POOLED per-season
    * slopes, exactly as Hirsch defines it.
    *
    * The pair frame is the EXACT [[theilSen]] dag keyed by a
    * (group, season) struct (one shared [[theilSenPairs]] definition
    * — guard, vertical-pair drop, unique-id contract and slope
    * expression all structural, with the per-(group, season) slice
    * bounded by `maxN`), and the pooled median is the same
    * two-middle-ranks exact selection ([[selectionMedian]] — one
    * definition), pinned by (slope, season, id_a, id_b) for
    * determinism through cross-season ties. One season reduces to
    * [[theilSen]]'s slope EXACTLY (identical pair set, identical
    * selection — spec-pinned). No intercept by design: the
    * de-seasonalized levels differ per season by construction, so no
    * single intercept is meaningful — run [[theilSen]] per
    * (group, season) slice for per-season lines.
    *
    * Degenerate reads: a group with no valid same-season pairs (every
    * season a single point, or all x tied within season) reads NULL
    * slope with honest counts. NULL season/id/x/y rows drop. Scale
    * shape: the guarded per-season pair join + one pooled rank window
    * + two hash-aggs. Output per group:
    * `n, n_seasons, n_pairs, slope`. */
  def seasonalTheilSen(groupField: String, seasonField: String,
      idField: String, xField: String, yField: String,
      maxN: Int = 10000)(df: DataFrame): DataFrame = {
    val withKey = df
      .filter(col(seasonField).isNotNull)
      .withColumn("__gs", struct(col(groupField).as("g"),
        col(seasonField).as("sea")))
    val (_, sized, pairs) = theilSenPairs("__gs", idField, xField,
      yField, maxN, op = "seasonalTheilSen")(withKey)
    val szAgg = sized
      .select(col("__g").getField("g").as("__grp"), col("__n"))
      .groupBy(col("__grp"))
      .agg(sum(col("__n")).as("n"), count(lit(1)).as("n_seasons"))
    val pooled = pairs.select(col("__g").getField("g").as("__grp"),
      col("__g").getField("sea").as("__sea"),
      col("__s"), col("__ia"), col("__ib"))
    val ms = selectionMedian(pooled, "__grp", "__s",
      Seq("__sea", "__ia", "__ib"), "slope", "n_pairs")
      // pinned: the theilSen note — ≤|groups| rows over the pooled
      // per-season pair window; the closing range-sort's sampling pass
      // re-executed the 2.5M-row sort (measured 2 × ~2.8 s stages of
      // the ~7 s sf0.1 cell). One window pass, bit-identical.
      .localCheckpoint()
    szAgg.join(ms, Seq("__grp"), "left")
      .select(col("__grp").as(groupField), col("n"), col("n_seasons"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("slope"))
  }

  /** McNemar's test — the PAIRED classifier comparison: two systems
    * scored on the SAME eval items, is B's accuracy gain real? The
    * unpaired tests ([[mannWhitneyU]], [[permutationTest]] on
    * per-item diffs) ignore that both systems saw identical items;
    * McNemar uses exactly the information that matters — the
    * DISCORDANT cells (A-only-correct vs B-only-correct; items both
    * got right or both got wrong cancel by design).
    *
    * With `b = a_only`, `c = b_only`:
    * `χ² = (max(0, |b−c|−1))² / (b+c)` (Edwards' continuity
    * correction, the textbook default; `correction = false` gives the
    * asymptotic `(b−c)²/(b+c)`). EXACT to the last step: the
    * numerator is a squared exact integer in decimal(38,0), the one
    * division is final. No p-value (the normal/χ² CDF is
    * transcendental — the no-libm doctrine); consumers threshold
    * against χ²₁ quantiles — 3.841 IS the 95% gate. `b+c = 0` (no
    * discordant items — the systems are indistinguishable on this
    * eval) reads NULL, not 0: zero evidence, not zero difference.
    * NULL correctness flags drop (an unscored item is not evidence).
    *
    * Scale shape: one filter + one hash-agg, full stop. Output per
    * group: `n, both_correct, a_only, b_only, both_wrong, chi2`. */
  def mcnemarTest(aCorrect: Column, bCorrect: Column,
      groupCols: Seq[String] = Nil, correction: Boolean = true)(
      df: DataFrame): DataFrame = {
    val grp = groupCols.map(col)
    val base = df
      .filter(aCorrect.isNotNull && bCorrect.isNotNull)
      .select(grp :+ aCorrect.cast("boolean").as("__a") :+
        bCorrect.cast("boolean").as("__b"): _*)
    val agg =
      (if (grp.isEmpty) base.groupBy() else base.groupBy(grp: _*))
        .agg(count(lit(1)).as("n"),
          sum(when(col("__a") && col("__b"), 1L).otherwise(0L))
            .as("both_correct"),
          sum(when(col("__a") && !col("__b"), 1L).otherwise(0L))
            .as("a_only"),
          sum(when(!col("__a") && col("__b"), 1L).otherwise(0L))
            .as("b_only"),
          sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L))
            .as("both_wrong"))
    val diff = abs(col("a_only") - col("b_only"))
    val num = (if (correction) greatest(lit(0L), diff - lit(1L))
               else diff).cast("decimal(38,0)")
    agg.select(grp ++ Seq(col("n"), col("both_correct"), col("a_only"),
      col("b_only"), col("both_wrong"),
      when(col("a_only") + col("b_only") > 0,
        (num * num).cast("double") /
          (col("a_only") + col("b_only")).cast("double")).as("chi2")): _*)
  }

  /** Wilson score interval for a per-group pass/success rate — the
    * slice-eval report with honest uncertainty: a 96%-accurate slice
    * of 25 examples and one of 25,000 are different facts, and the
    * plain ratio hides that. Wilson (not normal-approximation) because
    * it never leaves [0,1] and behaves at k = 0 / k = n — the
    * standard choice for small-slice dashboards.
    *
    * `center = (p̂ + z²/2n) / (1 + z²/n)`,
    * `half = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)` — counts are
    * exact integers, the expression tree is fixed (mirrored verbatim
    * in the oracle), the one sqrt is correctly rounded. NULL outcomes
    * drop (no evidence, not failure). One hash-agg. Output per group:
    * `n, successes, rate, ci_low, ci_high`. */
  def proportionCI(success: Column, groupCols: Seq[String] = Nil,
      z: Double = 1.96)(df: DataFrame): DataFrame = {
    require(z > 0.0 && z <= 10.0, s"z must be in (0, 10], got $z")
    val grp = groupCols.map(col)
    val agg = df
      .filter(success.isNotNull)
      .select(grp :+ success.cast("boolean").as("__s"): _*)
      .groupBy(grp: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__s"), 1L).otherwise(0L)).as("successes"))
    val nD = col("n").cast("double")
    val p = col("successes").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))) / denom
    agg.select(grp :+ col("n") :+ col("successes") :+
      p.as("rate") :+ (center - half).as("ci_low") :+
      (center + half).as("ci_high"): _*)
  }

  def schemaDrift(before: DataFrame, after: DataFrame): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    def profile(df: DataFrame): (Long, Map[String, (String, Long)]) = {
      if (df.columns.isEmpty) return (df.count(), Map.empty)
      val aggs = df.schema.fields.map(f =>
        coalesce(sum(when(col(f.name).isNull, 1L).otherwise(0L)), lit(0L))
          .as(f.name))
      val row = df.agg(count(lit(1)).as("__n"), aggs.toSeq: _*).head()
      val n = row.getAs[Long]("__n")
      (n, df.schema.fields.map(f =>
        f.name -> (f.dataType.simpleString, row.getAs[Long](f.name))).toMap)
    }
    val (nb, pb) = profile(before)
    val (na, pa) = profile(after)
    val names = (pb.keySet ++ pa.keySet).toSeq.sorted
    names.map { c =>
      val b = pb.get(c); val a = pa.get(c)
      (c, b.isDefined, a.isDefined,
        b.map(_._1).getOrElse(""), a.map(_._1).getOrElse(""),
        b.map(t => if (nb == 0) 0.0 else t._2.toDouble / nb),
        a.map(t => if (na == 0) 0.0 else t._2.toDouble / na),
        b.map(_._1) == a.map(_._1))
    }.toDF("column", "in_before", "in_after", "type_before", "type_after",
      "null_frac_before", "null_frac_after", "type_match")
  }
}
