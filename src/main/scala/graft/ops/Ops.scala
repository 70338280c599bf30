package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.meta.FieldFilter

/** The operator catalog: every data-shaping operation from the reference
  * (Stiivi/bubbles, see SURVEY.md §2), re-expressed as pure
  * `DataFrame => DataFrame` functions over the Spark DataFrame API.
  *
  * Design stance (SURVEY.md §7.1): the reference dispatched each named
  * operation over per-representation implementations (`rows` iterators vs
  * composable `sql` statements). On Spark there is exactly one
  * representation — the lazily-composed logical plan — so the catalog is a
  * flat set of plan-building functions and Catalyst supplies pushdown,
  * pruning, join strategy, codegen, shuffle and spill.
  *
  * Scale notes are attached per-operator; everything here is
  * shuffle-minimal and 100 TB-safe unless explicitly documented otherwise.
  */
object Ops {

  // ---------------------------------------------------------------- project

  /** Keep/drop/rename columns (reference: `ops/rows.py::field_filter` and
    * `backends/sql/ops.py::field_filter`). One Project node; column pruning
    * reaches the scan. */
  def fieldFilter(
      keep: Seq[String] = Nil,
      drop: Seq[String] = Nil,
      rename: Map[String, String] = Map.empty)(df: DataFrame): DataFrame =
    FieldFilter(keep, drop, rename)(df)

  /** Derived column (reference: derive-style row transform). Catalyst folds
    * consecutive withColumn-projects into one. */
  def derive(name: String, expr: Column)(df: DataFrame): DataFrame =
    df.withColumn(name, expr)

  // ---------------------------------------------------------------- filters

  /** Keep (or with discard=true, remove) rows where field == value
    * (reference: `ops/rows.py::filter_by_value`). Null-safe: a null field
    * value never matches (so discard KEEPS nulls), matching the
    * reference's `==` semantics. The discard form is expressed as
    * `field IS NULL OR field <> value` — NOT `!coalesce(p, false)` —
    * because coalesce is opaque to the source filter API while IsNull /
    * Not(EqualTo) / Or all translate, so both directions reach the
    * parquet scan as PushedFilters (asserted in PlanAuditSpec). A null
    * `value` matches nothing, handled explicitly for the same reason. */
  def filterByValue(field: String, value: Any, discard: Boolean = false)(
      df: DataFrame): DataFrame =
    if (value == null) { if (discard) df else df.filter(lit(false)) }
    else if (discard) df.filter(col(field).isNull || col(field) =!= lit(value))
    else df.filter(col(field) === lit(value))

  /** Set membership filter (reference: `ops/rows.py::filter_by_set`).
    * Same null contract and pushdown-friendly discard shape as
    * [[filterByValue]]; null entries in `values` match nothing and are
    * dropped up front (a null inside `isin` would turn non-matches into
    * NULL and silently flip the discard branch). */
  def filterBySet(field: String, values: Seq[Any], discard: Boolean = false)(
      df: DataFrame): DataFrame = {
    val vs = values.filterNot(_ == null)
    if (vs.isEmpty) { if (discard) df else df.filter(lit(false)) }
    else if (discard) df.filter(col(field).isNull || !col(field).isin(vs: _*))
    else df.filter(col(field).isin(vs: _*))
  }

  /** Half-open range filter: low <= field < high (reference:
    * `ops/rows.py::filter_by_range`; bound openness chosen here and encoded
    * identically in every oracle query — SURVEY.md §7.4 risk 1). Same
    * null contract and pushdown-friendly discard shape as
    * [[filterByValue]]; a null bound matches nothing. */
  def filterByRange(field: String, low: Any, high: Any, discard: Boolean = false)(
      df: DataFrame): DataFrame =
    if (low == null || high == null) { if (discard) df else df.filter(lit(false)) }
    else if (discard)
      df.filter(col(field).isNull ||
        col(field) < lit(low) || col(field) >= lit(high))
    else df.filter(col(field) >= lit(low) && col(field) < lit(high))

  /** Drop rows whose field is NULL or empty string (reference:
    * `ops/rows.py::filter_not_empty`). */
  def filterNotEmpty(field: String)(df: DataFrame): DataFrame =
    df.filter(col(field).isNotNull && col(field).cast("string") =!= "")

  /** Keep only rows whose field is NULL or empty string (reference:
    * `ops/rows.py::filter_empty`). */
  def filterEmpty(field: String)(df: DataFrame): DataFrame =
    df.filter(col(field).isNull || col(field).cast("string") === "")

  /** Arbitrary predicate filter — the reference's UDF surface
    * (`ops/rows.py::filter_by_predicate`). Prefer the Column-based filters
    * above: a lambda is a black box to Catalyst (no pushdown, breaks
    * codegen), so this exists only for genuinely non-expressible
    * predicates. */
  def filterByPredicate(predicate: org.apache.spark.sql.Row => Boolean)(
      df: DataFrame): DataFrame =
    df.filter(predicate)

  // ------------------------------------------------------------------ joins

  /** Master–detail lookup join — the reference's single join
    * (`ops/rows.py::join_details`, `backends/sql/ops.py::join_details`):
    * LEFT OUTER equi-join, detail on the build side. The reference's rows
    * implementation materializes the detail into an in-process dict — i.e.
    * a broadcast hash join — so `broadcastDetail=true` reproduces exactly
    * that strategy, shuffle-free, and is the right call for dimension
    * tables at any master scale. Set it false for detail tables too large
    * to broadcast; Catalyst then plans a shuffled hash/sort-merge join. */
  def joinDetails(
      detail: DataFrame,
      masterKey: String,
      detailKey: String,
      joinType: String = "left_outer",
      broadcastDetail: Boolean = true,
      nullSafe: Boolean = false)(master: DataFrame): DataFrame = {
    val d = if (broadcastDetail) broadcast(detail) else detail
    // nullSafe reproduces the reference's dict-lookup faithfully: a
    // Python dict happily keys on None, so a None master key DID match a
    // None detail key there; SQL equality never matches NULLs. Default
    // stays SQL semantics (what the oracle mirrors).
    val cond = if (nullSafe) master(masterKey) <=> d(detailKey)
               else master(masterKey) === d(detailKey)
    master.join(d, cond, joinType)
  }

  /** Fold of master–detail joins over a chain of dimensions (the
    * reference's multi-detail variant): each step broadcasts its detail, so
    * an N-dim star lookup is N broadcast joins and zero shuffles of the
    * fact table. */
  def joinDetailsChain(details: Seq[(DataFrame, String, String)])(
      master: DataFrame): DataFrame =
    details.foldLeft(master) { case (m, (d, mk, dk)) => joinDetails(d, mk, dk)(m) }

  // ------------------------------------------------------------- aggregates

  /** Aggregation functions supported by the reference's `aggregate`
    * (`sum`, `min`, `max`, `average`; SURVEY §2.5 marks per-measure
    * `count`/`count_distinct` as probable [M] — included). Output columns
    * follow the reference's naming convention `<field>_<function>`. */
  val aggregateFunctions: Set[String] =
    Set("sum", "min", "max", "average", "count", "count_distinct")

  /** GROUP BY + measures (reference: `ops/rows.py::aggregate`,
    * `backends/sql/ops.py::aggregate`). `measures` is (field, function)
    * with function in [[aggregateFunctions]]; a `record_count` column is
    * always appended unless includeCount=false, exactly as the reference
    * defaults `include_count=True`.
    *
    * Scale: hash aggregation with map-side partial aggregation — one
    * shuffle of the (small) partial-aggregate state, never of the raw
    * rows. Spill-safe via Spark's external aggregation. */
  def aggregate(
      keys: Seq[String],
      measures: Seq[(String, String)],
      includeCount: Boolean = true,
      countField: String = "record_count")(df: DataFrame): DataFrame = {
    // distinct: a duplicated (field, fn) entry must not emit two
    // identically-named columns (every later by-name reference would be
    // ambiguous) — same guard as saltedAggregate/levelAggs
    val aggs = measures.distinct.map {
      case (f, "sum")     => sum(col(f)).as(s"${f}_sum")
      case (f, "min")     => min(col(f)).as(s"${f}_min")
      case (f, "max")     => max(col(f)).as(s"${f}_max")
      case (f, "average") => avg(col(f)).as(s"${f}_average")
      case (f, "count")   => count(col(f)).as(s"${f}_count") // non-null count
      case (f, "count_distinct") =>
        // exact (oracle-parity); swap for approx_count_distinct beyond
        // memory bounds at scale
        countDistinct(col(f)).as(s"${f}_count_distinct")
      case (_, fn) =>
        throw new IllegalArgumentException(
          s"unsupported aggregate function '$fn' (supported: $aggregateFunctions)")
    } ++ (if (includeCount) Seq(count(lit(1)).as(countField)) else Nil)
    require(aggs.nonEmpty, "aggregate needs at least one measure or record_count")
    if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Metadata-driven aggregation: aggregates every column tagged
    * `analytical_type = "measure"` (via [[graft.meta.Field.tag]] or a
    * [[graft.meta.FieldList]] schema) with the given functions — the
    * reference's analytical-type metadata actually driving execution, as
    * its `aggregate` did when called without explicit measures. */
  def aggregateMeasures(
      keys: Seq[String],
      functions: Seq[String] = Seq("sum", "average"))(df: DataFrame): DataFrame = {
    // grouping keys are dimensions by definition — never self-aggregate
    // a measure-tagged column that is also a key
    val measures = graft.meta.Field.taggedAs(df, "measure")
      .filterNot(keys.contains)
    require(measures.nonEmpty,
      "no non-key columns tagged analytical_type=measure (see Field.tag)")
    aggregate(keys, measures.flatMap(m => functions.map(m -> _)))(df)
  }

  /** Skew-resistant two-stage aggregation: stage 1 aggregates on
    * (keys, salt) — `pmod(hash(saltSource), buckets)` spreads a hot key
    * over `buckets` reducers — and stage 2 combines the partial states
    * on the true keys. Same results as [[aggregate]] for the decomposable
    * functions (sum/min/max/count; average = final sum/count), exact for
    * integer/scaled-long sums.
    *
    * When to reach for it at 100 TB: a groupBy whose key histogram has a
    * few giant keys that AQE's skew handling can't split (aggregation
    * skew, not join skew). For uniform keys plain [[aggregate]]'s
    * map-side partial aggregation is already optimal — salting adds one
    * extra (small) shuffle stage. */
  def saltedAggregate(
      keys: Seq[String],
      measures: Seq[(String, String)],
      saltSource: Column,
      buckets: Int = 16,
      includeCount: Boolean = true,
      countField: String = "record_count")(df: DataFrame): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(saltSource), lit(buckets)))
    val partials = measures.distinct.flatMap {
      case (f, "sum")     => Seq(sum(col(f)).as(s"__p_${f}_sum"))
      case (f, "min")     => Seq(min(col(f)).as(s"__p_${f}_min"))
      case (f, "max")     => Seq(max(col(f)).as(s"__p_${f}_max"))
      case (f, "count")   => Seq(count(col(f)).as(s"__p_${f}_count"))
      case (f, "average") => Seq(sum(col(f)).as(s"__p_${f}_asum"),
        count(col(f)).as(s"__p_${f}_cnt")) // avg ignores nulls: non-null count
      case (_, fn) =>
        throw new IllegalArgumentException(s"unsupported aggregate function '$fn'")
    } :+ count(lit(1)).as("__p_n")
    val stage1 = salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(partials.head, partials.tail: _*)
    // distinct like the partials: a duplicated (field, fn) entry must not
    // emit two identically-named output columns
    val finals = measures.distinct.map {
      case (f, "sum")     => sum(col(s"__p_${f}_sum")).as(s"${f}_sum")
      case (f, "min")     => min(col(s"__p_${f}_min")).as(s"${f}_min")
      case (f, "max")     => max(col(s"__p_${f}_max")).as(s"${f}_max")
      case (f, "count")   => sum(col(s"__p_${f}_count")).as(s"${f}_count")
      case (f, "average") =>
        (sum(col(s"__p_${f}_asum")) / sum(col(s"__p_${f}_cnt")))
          .as(s"${f}_average")
      case (f, fn) => throw new IllegalArgumentException(s"$f/$fn")
    } ++ (if (includeCount) Seq(sum(col("__p_n")).as(countField)) else Nil)
    stage1.groupBy(keys.map(col): _*).agg(finals.head, finals.tail: _*)
  }

  // ------------------------------------- incremental aggregate maintenance

  /** Mergeable per-group aggregate STATE — the stored half of an
    * incrementally maintained rollup (materialized-view maintenance):
    * instead of re-scanning 100 TB of history to refresh a dashboard
    * aggregate, persist this state table once, fold each day's batch in
    * with [[mergeAggregateStates]] (cost: the BATCH scan plus a
    * |groups|-sized merge — history is never re-read), and project the
    * presentation columns with [[finalizeAggregate]].
    *
    * State schema per measure: `sum`/`min`/`max`/`count` keep their own
    * value (each is its own merge state); `average` stores the
    * (`<f>_avg_sum`, `<f>_avg_count`) pair — an average is not
    * mergeable, its sufficient statistics are. `record_count` rides
    * along. `count_distinct` is deliberately ABSENT: its exact state is
    * the value set itself (unbounded); at scale store an HLL sketch
    * ([[graft.probes.Probes.audit]]'s approx variant) and accept
    * estimated counts — outside this exact-oracle surface.
    *
    * The identity `finalize(merge(state(A), state(B))) =
    * aggregate(A ∪ B)` is exact for integral/scaled-long sums (double
    * addition reorders across the merge boundary) and is what the
    * oracle checks end to end. */
  def aggregateState(
      keys: Seq[String],
      measures: Seq[(String, String)],
      countField: String = "record_count")(df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    val aggs = measures.distinct.flatMap {
      case (f, "sum")     => Seq(sum(col(f)).as(s"${f}_sum"))
      case (f, "min")     => Seq(min(col(f)).as(s"${f}_min"))
      case (f, "max")     => Seq(max(col(f)).as(s"${f}_max"))
      case (f, "count")   => Seq(count(col(f)).as(s"${f}_count"))
      case (f, "average") => Seq(sum(col(f)).as(s"${f}_avg_sum"),
        count(col(f)).as(s"${f}_avg_count"))
      case (f, fn) => throw new IllegalArgumentException(
        s"unsupported mergeable aggregate '$fn' for '$f' " +
          "(supported: sum, min, max, count, average)")
    } :+ count(lit(1)).as(countField)
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold one [[aggregateState]] frame into another (same keys, same
    * measures): union + one |groups|-bounded merge aggregation — sums
    * and counts add, mins/maxes combine. Both inputs and the output
    * share the state schema, so merging is associative and a nightly
    * pipeline can fold batches in any grouping. */
  def mergeAggregateStates(
      keys: Seq[String],
      measures: Seq[(String, String)],
      countField: String = "record_count")(
      stored: DataFrame, batch: DataFrame): DataFrame = {
    val merges = measures.distinct.flatMap {
      case (f, "sum")     => Seq(sum(col(s"${f}_sum")).as(s"${f}_sum"))
      case (f, "min")     => Seq(min(col(s"${f}_min")).as(s"${f}_min"))
      case (f, "max")     => Seq(max(col(s"${f}_max")).as(s"${f}_max"))
      case (f, "count")   =>
        Seq(sum(col(s"${f}_count")).cast("long").as(s"${f}_count"))
      case (f, "average") =>
        Seq(sum(col(s"${f}_avg_sum")).as(s"${f}_avg_sum"),
          sum(col(s"${f}_avg_count")).cast("long").as(s"${f}_avg_count"))
      case (f, fn) => throw new IllegalArgumentException(s"$f/$fn")
    } :+ sum(col(countField)).cast("long").as(countField)
    stored.unionByName(batch)
      .groupBy(keys.map(col): _*).agg(merges.head, merges.tail: _*)
  }

  /** Project an [[aggregateState]] frame to [[aggregate]]'s output
    * schema: pass-through for the self-merging measures, one IEEE
    * division for each stored average. */
  def finalizeAggregate(
      keys: Seq[String],
      measures: Seq[(String, String)],
      countField: String = "record_count")(state: DataFrame): DataFrame =
    state.select(keys.map(col) ++ measures.distinct.map {
      case (f, "average") =>
        (col(s"${f}_avg_sum") / col(s"${f}_avg_count")).as(s"${f}_average")
      case (f, fn) => col(s"${f}_$fn")
    } :+ col(countField): _*)

  /** The per-field state shape the four sketch legs (HLL, theta, KLL,
    * CMS) share: `frames` unioned by name and grouped by `keys`, one
    * `<f>_<suffix>` column per distinct field holding `agg` of the field
    * itself — or, when merging state frames, of the stored
    * `<f>_<suffix>` column. */
  private def perFieldState(
      keys: Seq[String], fields: Seq[String], suffix: String,
      merge: Boolean)(agg: Column => Column)(frames: DataFrame*): DataFrame = {
    val aggs = fields.distinct.map { f =>
      val out = s"${f}_$suffix"
      agg(col(if (merge) out else f)).as(out)
    }
    frames.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The DISTINCT-count leg [[aggregateState]] refuses: per-group
    * DataSketches HLL sketches (Spark's native `hll_sketch_agg`) as the
    * mergeable state — ~1.5 KB per (group, field) at `lgK = 12`
    * FOREVER, versus the unbounded value set exact distinct would
    * store. Merging ([[mergeAggregateStatesHll]]) is a sketch union —
    * deterministic and order/partition-independent for a given split.
    * Below ~2^(lgK−2) distincts the sketch is still an exact coupon
    * list: the estimate IS the true count and the maintenance identity
    * merged ≡ direct holds exactly (the regime the oracle asserts).
    * Beyond it estimates carry the HLL ~2% band and merged-vs-direct
    * may differ by the union gadget's promotion path (spec-pinned:
    * both inside the band) — the standard approximate contract. */
  def aggregateStateHll(
      keys: Seq[String], fields: Seq[String], lgK: Int = 12)(
      df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    require(fields.nonEmpty, "at least one sketched field required")
    perFieldState(keys, fields, "hll", merge = false)(
      hll_sketch_agg(_, lit(lgK)))(df)
  }

  /** Fold one [[aggregateStateHll]] frame into another: union + one
    * register-wise `hll_union_agg` per sketch column. */
  def mergeAggregateStatesHll(
      keys: Seq[String], fields: Seq[String])(
      stored: DataFrame, batch: DataFrame): DataFrame =
    perFieldState(keys, fields, "hll", merge = true)(
      hll_union_agg(_))(stored, batch)

  /** Estimate distinct counts from an [[aggregateStateHll]] frame:
    * `<f>_distinct_est` BIGINT per sketched field. */
  def finalizeAggregateHll(
      keys: Seq[String], fields: Seq[String])(state: DataFrame): DataFrame =
    state.select(keys.map(col) ++ fields.distinct.map(f =>
      hll_sketch_estimate(col(s"${f}_hll")).as(s"${f}_distinct_est")): _*)

  /** The SET-ALGEBRA leg of mergeable distinct state — theta sketches
    * (see [[graft.functions.ThetaSketchAgg]]): where HLL answers only
    * |A ∪ B|, theta state supports intersection and difference
    * estimates over PERSISTED per-group sketches
    * ([[graft.functions.GraftFunctions.thetaIntersect]] /
    * [[GraftFunctions.thetaDiff]]) — the audience-overlap /
    * churn-count questions. Exact (and deterministic) while each
    * group's distincts stay under `nominalEntries`; ~1/√k error beyond.
    * State schema: `<f>_theta` BINARY per field. */
  def aggregateStateTheta(
      keys: Seq[String], fields: Seq[String],
      nominalEntries: Int = 4096)(df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    require(fields.nonEmpty, "at least one sketched field required")
    perFieldState(keys, fields, "theta", merge = false)(
      graft.functions.GraftFunctions.thetaAgg(_, nominalEntries))(df)
  }

  /** Fold one [[aggregateStateTheta]] frame into another: union + one
    * sketch-union per column. */
  def mergeAggregateStatesTheta(
      keys: Seq[String], fields: Seq[String],
      nominalEntries: Int = 4096)(
      stored: DataFrame, batch: DataFrame): DataFrame =
    perFieldState(keys, fields, "theta", merge = true)(
      graft.functions.GraftFunctions.thetaUnion(_, nominalEntries))(
      stored, batch)

  /** Distinct estimates from an [[aggregateStateTheta]] frame:
    * `<f>_distinct_est` BIGINT per field. */
  def finalizeAggregateTheta(
      keys: Seq[String], fields: Seq[String])(state: DataFrame): DataFrame =
    state.select(keys.map(col) ++ fields.distinct.map(f =>
      graft.functions.GraftFunctions.thetaEstimate(col(s"${f}_theta"))
        .as(s"${f}_distinct_est")): _*)

  /** The QUANTILE leg of mergeable aggregate state — the one
    * [[aggregateState]] cannot carry (exact per-group percentiles have
    * no bounded mergeable state; the state IS the value multiset):
    * per-group DataSketches KLL sketches, ~2.4 KB per (group, field) at
    * `k = 200` forever. While a group has seen ≤ `k` non-NULL/non-NaN
    * values the sketch has never compacted — quantile queries return
    * EXACT order statistics and the maintenance identity
    * `finalize(merge(state(A), state(B))) = quantiles(A ∪ B)` holds
    * exactly (the HLL coupon-list regime, and what the oracle asserts).
    * Beyond `k` the published ~1.65% normalized-rank error band applies
    * and — unlike HLL — the compactor's random coin makes results
    * NON-rerun-identical (spec-pinned inside the band); exact
    * reproducible percentiles at any scale stay on [[percentileAgg]].
    * State schema: `<f>_kll` BINARY per field. */
  def aggregateStateKll(
      keys: Seq[String], fields: Seq[String], k: Int = 200)(
      df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    require(fields.nonEmpty, "at least one sketched field required")
    perFieldState(keys, fields, "kll", merge = false)(c =>
      graft.functions.GraftFunctions.kllAgg(c.cast("double"), k))(df)
  }

  /** Fold one [[aggregateStateKll]] frame into another: union + one
    * sketch-merge per column. Merging two exact-regime sketches whose
    * total stays ≤ k is itself exact. */
  def mergeAggregateStatesKll(
      keys: Seq[String], fields: Seq[String], k: Int = 200)(
      stored: DataFrame, batch: DataFrame): DataFrame =
    perFieldState(keys, fields, "kll", merge = true)(
      graft.functions.GraftFunctions.kllMerge(_, k))(stored, batch)

  /** Project quantiles from an [[aggregateStateKll]] frame:
    * `<f>_p<pct>` DOUBLE per (field, rank) — e.g. rank 0.5 → `<f>_p50`.
    * In the exact regime each is the 1-indexed order statistic at
    * position ⌈rank·n⌉ (INCLUSIVE search); empty sketches (all-NULL/NaN
    * groups) yield NULL. */
  def finalizeAggregateKll(
      keys: Seq[String], fields: Seq[String], ranks: Seq[Double])(
      state: DataFrame): DataFrame = {
    require(ranks.nonEmpty, "at least one quantile rank required")
    ranks.foreach(r => require(r >= 0.0 && r <= 1.0,
      s"quantile ranks must be in [0, 1], got $r"))
    val cols = for (f <- fields.distinct; r <- ranks) yield {
      // 0.5 -> p50, 0.9 -> p90, 0.975 -> p97_5 (two decimals max)
      val scaled = math.rint(r * 10000) / 100.0
      val label = "p" + (if (scaled == scaled.toLong) scaled.toLong.toString
        else scaled.toString.replace(".", "_"))
      graft.functions.GraftFunctions
        .kllQuantile(col(s"${f}_kll"), lit(r)).as(s"${f}_$label")
    }
    state.select(keys.map(col) ++ cols: _*)
  }

  /** The POINT-FREQUENCY leg of mergeable aggregate state — the one
    * question the additive/HLL/theta/KLL legs cannot answer: "how often
    * does THIS value occur" over an unbounded key domain (the exact
    * answer is the full frequency map; there is no bounded exact
    * state). Per-group Spark count–min sketches, depth·width·8 bytes
    * per (group, field) forever. Estimates never undercount and are
    * EXACT unless a key collides with another ingested key in all
    * `depth` rows — ≤ (d/width)^depth for d in-sketch keys, and
    * deterministic either way (fixed Murmur3 row seeds): the oracle's
    * collision-free regime at the default 5×4096 (see
    * [[graft.functions.CmsAgg]]). State schema: `<f>_cms` BINARY per
    * field; LONG values hash their integral value, STRING values their
    * UTF-8 bytes. */
  def aggregateStateCms(
      keys: Seq[String], fields: Seq[String],
      depth: Int = 5, width: Int = 4096, seed: Int = 1)(
      df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    require(fields.nonEmpty, "at least one sketched field required")
    perFieldState(keys, fields, "cms", merge = false)(
      graft.functions.GraftFunctions.cmsAgg(_, depth, width, seed))(df)
  }

  /** Fold one [[aggregateStateCms]] frame into another: union + one
    * element-wise counter addition per column. Exact-regime sketches
    * merge exactly (counter addition introduces no new collisions
    * beyond the union of key sets). */
  def mergeAggregateStatesCms(
      keys: Seq[String], fields: Seq[String],
      depth: Int = 5, width: Int = 4096, seed: Int = 1)(
      stored: DataFrame, batch: DataFrame): DataFrame =
    perFieldState(keys, fields, "cms", merge = true)(
      graft.functions.GraftFunctions.cmsMerge(_, depth, width, seed))(
      stored, batch)

  /** Probe an [[aggregateStateCms]] frame for a fixed key list: one
    * output row per (group, probe key) — `(keys…, item, <f>_freq_est)`,
    * a |groups|×|items| projection of the |groups|-row state. Absent
    * keys estimate 0 in the collision-free regime; the probe list is
    * static (the persisted-state contract: history is never re-read, so
    * the caller asks about the keys it cares about). */
  def finalizeAggregateCms(
      keys: Seq[String], field: String, items: Seq[String])(
      state: DataFrame): DataFrame = {
    require(items.nonEmpty, "at least one probe item required")
    state
      .select(keys.map(col) :+ col(s"${field}_cms") :+
        explode(array(items.map(lit): _*)).as("item"): _*)
      .select(keys.map(col) :+ col("item") :+
        graft.functions.GraftFunctions
          .cmsEstimate(col(s"${field}_cms"), col("item"))
          .as(s"${field}_freq_est"): _*)
  }

  /** Skew-salted equi-join — the JOIN half of the skew toolkit
    * ([[saltedAggregate]] is the aggregation half, AQE skew-split the
    * runtime fallback): when one join key carries a disproportionate
    * share of the LEFT side and the right side is too large to
    * broadcast, a plain shuffle join lands the hot key on one reducer.
    * Salting splits it `buckets` ways: the left side gains a
    * deterministic per-row salt (a hash of the whole row by default —
    * rerun-stable, no RNG state; pass `saltSource` to hash something
    * cheaper), the right side is replicated once per bucket, and the
    * join runs on (keys..., salt). Result rows are IDENTICAL to the
    * plain join (each matching pair meets in exactly one bucket) — the
    * oracle shares the plain-join SQL verbatim.
    *
    * Cost: `buckets`× the right side through the shuffle — use the
    * smaller frame as `right`. Only `inner` and `left` joins are
    * supported: under right/full-outer semantics an unmatched right row
    * would surface once PER REPLICA. */
  def saltedJoin(
      right: DataFrame, keys: Seq[String], buckets: Int = 16,
      joinType: String = "inner", saltSource: Option[Column] = None)(
      left: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one join key required")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(Seq("inner", "left", "left_outer", "leftouter").contains(joinType),
      s"only inner/left joins are salt-safe, got '$joinType'")
    val salt = saltSource.getOrElse(hash(left.columns.map(col): _*))
    val l = left.withColumn("__salt", pmod(salt, lit(buckets)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    l.join(r, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Distinct values of the given key fields; with no keys, whole-row
    * distinct (reference: `ops/rows.py::distinct` / `distinct_rows`).
    * Plans as a hash aggregate with partial aggregation — dedup happens
    * map-side before the shuffle. */
  def distinct(keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    if (keys.isEmpty) df.distinct() else df.select(keys.map(col): _*).distinct()

  // ---------------------------------------------------------- sort / sample

  /** Order by (field, ascending) pairs (reference: `ops/rows.py::sort`).
    * Nulls sort first on ascending and last on descending keys — stated
    * explicitly because oracle SQL must pin the same placement. Spark plans
    * a range-partitioned distributed sort (sampled bounds, external
    * spill) — the reference's in-memory `sorted()` at any scale. */
  def sort(keys: Seq[(String, Boolean)])(df: DataFrame): DataFrame =
    df.orderBy(keys.map { case (f, asc) =>
      if (asc) col(f).asc_nulls_first else col(f).desc_nulls_last
    }: _*)

  /** Row sampling (reference: `ops/rows.py::sample`).
    *  - "first": first n rows (LIMIT — deterministic only after a sort).
    *  - "random": seeded Bernoulli sample of `fraction` — `n` is IGNORED
    *    in this mode. The reference took an absolute count, which would
    *    force a full count() job at *plan construction* time; a fraction
    *    keeps composition lazy. Approximate size and engine-specific
    *    RNG — for a deterministic, cross-engine reproducible sample use
    *    [[sampleHash]] (fraction) or [[sampleHashTopN]] (exact count,
    *    the reference's absolute-n semantics).
    *  - "nth": every n-th row of the current order (rows 1, n+1, 2n+1, …).
    *    Implemented with RDD `zipWithIndex` — one lightweight extra job to
    *    compute per-partition offsets, then a distributed filter — NOT a
    *    global single-partition window, so it survives any scale.
    *    Deterministic when the input carries a total order on a unique key
    *    (the sort's range partitioning fixes both partition boundaries and
    *    in-partition order). */
  def sample(
      n: Long,
      mode: String = "first",
      seed: Long = 42L,
      fraction: Double = 0.1)(df: DataFrame): DataFrame = mode match {
    case "first" =>
      // limit takes an Int; a silent n.toInt would truncate (or go
      // negative) for billion-row requests
      require(n >= 0 && n <= Int.MaxValue,
        s"sample(first) supports 0 <= n <= ${Int.MaxValue}, got $n")
      df.limit(n.toInt)
    case "random" => df.sample(withReplacement = false, fraction, seed)
    case "nth" =>
      require(n > 0, s"sample(nth) needs a positive stride, got $n")
      val spark = df.sparkSession
      val schema = df.schema
      spark.createDataFrame(
        df.rdd.zipWithIndex().filter(_._2 % n == 0).map(_._1), schema)
    case other => throw new IllegalArgumentException(s"unknown sample mode: $other")
  }

  /** Deterministic content-keyed Bernoulli sample: keep rows whose
    * md5(salt || key) 32-bit prefix falls below fraction·2³². The same rows
    * survive on every engine and every run (change `salt` to draw a fresh
    * sample) — this is the oracle-comparable "seeded random" sample. Pure
    * filter: no shuffle, no count job, and Catalyst pushes the surviving
    * predicate structure down to the scan where formats allow. */
  def sampleHash(field: String, fraction: Double, salt: String = "")(
      df: DataFrame): DataFrame = {
    val cutoff = (fraction * 4294967296.0).toLong
    df.filter(
      graft.functions.GraftFunctions.md5Prefix32(col(field), salt) < cutoff)
  }

  /** Deterministic EXACT-count "random" sample — the reference's
    * `sample(random, n)` absolute-count semantics, engine-reproducibly:
    * keep the `n` rows whose content hash md5(salt || key) 32-bit prefix
    * is smallest (key ascending breaks hash ties, so the selection is
    * total). Plans as TakeOrderedAndProject — per-partition top-n then a
    * driver merge of n·partitions rows — never a global sort, so it
    * survives any input scale for the report-sized n this exists for.
    * Change `salt` to draw a fresh sample. */
  def sampleHashTopN(field: String, n: Int, salt: String = "")(
      df: DataFrame): DataFrame = {
    require(n >= 0, s"sample size must be >= 0, got $n")
    df.orderBy(graft.functions.GraftFunctions.md5Prefix32(col(field), salt).asc,
      col(field).asc_nulls_first).limit(n)
  }

  /** Rendezvous (highest-random-weight) shard assignment — the STABLE
    * placement rule consistent pipelines need where `pmod(hash, n)`
    * fails: mod-n reshuffles nearly EVERY key when n changes, so
    * growing a 1000-shard corpus to 1001 rewrites the whole layout;
    * rendezvous hashing scores each (key, shard) pair independently
    * (`md5(salt|shard| ++ key)` 32-bit prefix) and assigns the
    * max-scoring shard, so adding a shard only STEALS the keys it now
    * wins (expected 1/(n+1) of the corpus) and removing one only
    * re-homes ITS keys — both spec-pinned. Ties (a 2⁻³² event, but
    * deterministic) break on shard name descending via the struct
    * max. Pure expression — |shards| hash evaluations per row, zero
    * shuffle; the shard list is a plan literal (placement maps are
    * config, not data). Rerun-identical and engine-reproducible like
    * every hash draw in this library. */
  def rendezvousShard(
      key: Column, shards: Seq[String], salt: String = "rv"): Column = {
    require(shards.nonEmpty, "at least one shard required")
    require(shards.distinct.length == shards.length, "duplicate shards")
    val scored = array(shards.map(sh => struct(
      graft.functions.GraftFunctions.md5Prefix32(key, s"$salt|$sh|")
        .as("s"),
      lit(sh).as("shard"))): _*)
    array_max(scored).getField("shard")
  }

  /** Deterministic global shuffle rank — the training-epoch shuffle: a
    * total order over the corpus that is uniformly "random" yet
    * rerun-identical and engine-reproducible (rank = position in the
    * md5(salt|key) order, key ascending on hash ties; change `salt` per
    * epoch for a fresh permutation). Writers sort shards by this rank;
    * data loaders then stream sequentially and still see an unbiased
    * mixture — the global-shuffle step every training-data export ends
    * with.
    *
    * DELIBERATELY not `row_number() OVER (ORDER BY hash)`: a global
    * window single-partitions 100 TB. Two-pass instead (the
    * tokenBudgetMixTwoPass machinery): rows bucket by the hash's first
    * two hex chars (256 buckets, uniform by construction), per-bucket
    * counts cumulate into offsets on a 256-row frame, and rank =
    * bucket offset + row_number within the bucket — 256-way-parallel
    * windows, bit-identical to the global form (which IS the oracle)
    * because the bucket prefix is the leading radix of the very hash
    * the global order sorts by. */
  def shuffleRank(keyField: String, salt: String = "epoch0")(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.withColumn("__rk",
        md5(concat_ws("|", lit(salt), col(keyField).cast("string"))))
      .withColumn("__bkt", substring(col("__rk"), 1, 2))
    val bw = Window.orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", sum(col("__n")).over(bw) - col("__n"))
      .select(col("__bkt"), col("__off"))
    val ww = Window.partitionBy(col("__bkt"))
      .orderBy(col("__rk").asc, col(keyField).asc_nulls_first)
    base.join(broadcast(offsets), Seq("__bkt"))
      .withColumn("shuffle_rank", col("__off") + row_number().over(ww))
      .drop("__rk", "__bkt", "__off")
  }

  /** Class balancing — downsample every class to the size of the
    * SMALLEST (the classifier-training prep where a 100:1 label skew
    * would drown the minority): deterministic content-hash order per
    * class (change `salt` to redraw), so the SAME rows survive on
    * every engine and run. Unlike [[quotaSample]]'s literal cap, the
    * bound here is the data-derived min class size — it rides a
    * one-row broadcast and the rank filter compares against a COLUMN,
    * so no WindowGroupLimit pushdown applies: each class pays one full
    * window sort (one shuffle on the label; fine for the
    * few-classes-many-rows shape this exists for). NULL-label rows are
    * dropped — they belong to no class. */
  def balanceClasses(
      labelField: String, keyField: String, salt: String = "")(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = df.filter(col(labelField).isNotNull)
      .groupBy(col(labelField)).agg(count(lit(1)).as("__n"))
      .agg(min(col("__n")).as("__m"))
    df.filter(col(labelField).isNotNull)
      .crossJoin(broadcast(m))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(labelField)).orderBy(
          graft.functions.GraftFunctions.md5Prefix32(col(keyField), salt).asc,
          col(keyField).asc_nulls_first)))
      .filter(col("__rk") <= col("__m"))
      .drop("__rk", "__m")
  }

  /** Deterministic per-group quota cap — the training-mixture "domain
    * cap": keep at most `n` rows per group (source, domain, language),
    * chosen by content-hash order so the SAME rows survive on every
    * engine and run. Complements [[sampleStratifiedHash]]: fractions
    * rebalance proportions, quotas bound ABSOLUTE volume (one crawl
    * domain cannot flood the mixture no matter how large it is).
    * One window shuffle on the group key; the rank predicate reaches
    * WindowGroupLimit, so per-group top-n losers drop before the full
    * sort materializes. Ties cannot occur: the key column ascending
    * breaks equal hash prefixes. */
  def quotaSample(groupField: String, keyField: String, n: Int,
      salt: String = "")(df: DataFrame): DataFrame = {
    require(n > 0, s"quota must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rk", row_number().over(
        Window.partitionBy(col(groupField)).orderBy(
          graft.functions.GraftFunctions.md5Prefix32(col(keyField), salt).asc,
          col(keyField).asc_nulls_first)))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Deterministic weighted exact-n sample per group — sequential
    * Poisson sampling (Ohlsson 1998): each row draws the priority
    * `u / w` with `u = (md5-prefix-32 + 1) / 2³²` ∈ (0, 1] from its
    * content hash, and the `n` LOWEST priorities per group win, so
    * inclusion probability is approximately proportional to the row's
    * `weightField` (the survey-statistics πps workhorse — quality- or
    * length-weighted corpus selection here). Deliberately u/w, not the
    * exponential-draw A-ES key: the library's no-libm doctrine (see
    * [[graft.ext.TextOps.hashBernoulli]]) keeps every score a plain
    * IEEE divide the oracle reproduces bit-for-bit; u/w and the A-ES
    * key order identically for equal weights and agree asymptotically
    * in the πps sense.
    *
    * Rows with NULL or non-positive weight never sample (a weight of
    * zero means "never pick me"; negative weights have no πps
    * meaning). Same WindowGroupLimit shape as [[quotaSample]] —
    * per-group top-n losers drop before the window sort materializes;
    * hash ties break on the key ascending, so the selection is total
    * and rerun-identical. Change `salt` for a fresh draw. */
  def weightedSample(groupField: String, keyField: String,
      weightField: String, n: Int, salt: String = "")(
      df: DataFrame): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    val u = (graft.functions.GraftFunctions.md5Prefix32(col(keyField), salt)
      .cast("double") + lit(1.0)) / lit(4294967296.0)
    df.filter(col(weightField).isNotNull && col(weightField) > 0)
      .withColumn("__pri", u / col(weightField))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(groupField))
          .orderBy(col("__pri").asc, col(keyField).asc_nulls_first)))
      .filter(col("__rk") <= n)
      .drop("__pri", "__rk")
  }

  /** Deterministic stratified sample: per-stratum Bernoulli fractions,
    * decided by the same content-keyed md5 filter as [[sampleHash]] so
    * the identical rows survive on every engine and run. Strata not in
    * `fractions` fall back to `defaultFraction`. Pure filter — one scan,
    * no count jobs, no per-stratum passes (Spark's own `stat.sampleBy`
    * is RNG-based and engine-specific, so it cannot be oracle-checked). */
  def sampleStratifiedHash(
      strataField: String,
      keyField: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0,
      salt: String = "")(df: DataFrame): DataFrame = {
    def cut(f: Double) = lit((f * 4294967296.0).toLong)
    val cutoff = fractions.toSeq.sortBy(_._1).foldLeft(cut(defaultFraction)) {
      case (acc, (k, f)) => when(col(strataField) === k, cut(f)).otherwise(acc)
    }
    df.filter(
      graft.functions.GraftFunctions.md5Prefix32(col(keyField), salt) < cutoff)
  }

  // ------------------------------------------------------------------- sets

  /** Concatenate objects with identical field lists — UNION ALL, no dedup
    * (reference: `ops/rows.py::append`, `sql/ops.py::append`). Matches by
    * column name (`unionByName`) since the reference matches FieldLists;
    * narrow-dependency only, no shuffle. */
  def append(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "append of zero objects")
    dfs.reduce(_.unionByName(_))
  }

  /** Set intersection with SQL INTERSECT (distinct) semantics — extension
    * op (SURVEY.md §2.8 lists it as absent from the reference). Plans as a
    * left-semi hash join after per-side dedup; one shuffle per side. */
  def intersect(other: DataFrame)(df: DataFrame): DataFrame = df.intersect(other)

  /** Set difference with SQL EXCEPT (distinct) semantics — extension op
    * (SURVEY.md §2.8). Left-anti hash join after dedup. */
  def except(other: DataFrame)(df: DataFrame): DataFrame = df.except(other)

  /** Multiset INTERSECT ALL: each common row kept min(countLeft,
    * countRight) times. */
  def intersectAll(other: DataFrame)(df: DataFrame): DataFrame =
    df.intersectAll(other)

  /** Multiset EXCEPT ALL: each right occurrence cancels one left
    * occurrence. */
  def exceptAll(other: DataFrame)(df: DataFrame): DataFrame =
    df.exceptAll(other)

  /** LEFT SEMI join — keep left rows with at least one key match on
    * the right, emitting LEFT columns only and each left row at most
    * once (the relational spelling of [[filterBySet]] when the set is
    * a FRAME, e.g. "customers that ordered"): Spark's left_semi plans
    * a hash join that short-circuits on first match and broadcasts the
    * right side when it fits — never a row-multiplying inner join +
    * distinct. NULL keys match nothing (equality semantics, the SQL
    * EXISTS contract). Key columns must share names (rename upstream). */
  def semiJoin(right: DataFrame, keys: Seq[String])(df: DataFrame): DataFrame =
    df.join(right, keys, "left_semi")

  /** LEFT ANTI join — keep left rows with NO key match on the right
    * (the decontamination/orphan shape; the engine primitive under
    * every incremental-dedup index leg). NULL left keys SURVIVE — they
    * equal nothing, so nothing on the right can exclude them (NOT
    * EXISTS semantics, not NOT IN — which would also drop them). */
  def antiJoin(right: DataFrame, keys: Seq[String])(df: DataFrame): DataFrame =
    df.join(right, keys, "left_anti")

  /** ROLLUP aggregation — extension op (SURVEY.md §2.5 "not in
    * reference"): subtotal rows per key prefix plus a grand total, with
    * `grouping_id` disambiguating subtotal levels from genuine NULL keys.
    * Same naming convention as [[aggregate]]. Spark plans one Expand (one
    * extra map-side row per rollup level) and a single hash-agg shuffle —
    * no per-level re-scan, safe at any scale. */
  def aggregateRollup(
      keys: Seq[String],
      measures: Seq[(String, String)],
      includeCount: Boolean = true,
      countField: String = "record_count")(df: DataFrame): DataFrame = {
    val aggs = measures.distinct.map {
      case (f, "sum")     => sum(col(f)).as(s"${f}_sum")
      case (f, "min")     => min(col(f)).as(s"${f}_min")
      case (f, "max")     => max(col(f)).as(s"${f}_max")
      case (f, "average") => avg(col(f)).as(s"${f}_average")
      case (_, fn) =>
        throw new IllegalArgumentException(s"unsupported aggregate function '$fn'")
    } ++ (if (includeCount) Seq(count(lit(1)).as(countField)) else Nil) :+
      grouping_id().as("grouping_id")
    df.rollup(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact, order-insensitive sum of a fixed-point-decimal double column:
    * scale to integers (exact round), sum as long (exact), divide back
    * (IEEE-deterministic). The pattern that makes double sums
    * hash-matchable across engines regardless of summation order; oracle
    * mirror is `CAST(SUM(CAST(round(x*s,0) AS BIGINT)) AS BIGINT)/s`. */
  def scaledSum(c: Column, scale: Double): Column =
    sum(round(c * scale, 0).cast("long")) / scale

  /** Conform a frame to a target schema — the ingestion seam where
    * upstream producers drift: output has EXACTLY the target's columns,
    * in target order; present columns cast to the target type
    * (validated castable up front — a malformed producer fails loudly
    * at plan time, not row-by-row at 3 a.m.), missing NULLABLE columns
    * fill with typed NULLs, missing non-nullable columns are a contract
    * violation and throw, extra columns drop. Name match is
    * case-insensitive (the session default). Pure projection, zero
    * shuffle; the pruned scan reads only the target's columns. */
  def conformSchema(target: org.apache.spark.sql.types.StructType)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val in = df.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val cols = target.fields.map { tf =>
      in.get(tf.name.toLowerCase) match {
        case Some(sf) =>
          if (sf.dataType != tf.dataType)
            require(Cast.canCast(sf.dataType, tf.dataType),
              s"cannot cast column '${sf.name}': ${sf.dataType.simpleString}" +
                s" -> ${tf.dataType.simpleString}")
          col(sf.name).cast(tf.dataType).as(tf.name)
        case None =>
          require(tf.nullable,
            s"missing non-nullable column '${tf.name}' cannot be conformed")
          lit(null).cast(tf.dataType).as(tf.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** Morton (Z-order) code over two 16-bit dimensions: interleaves the
    * low 16 bits of `a` (even positions) and `b` (odd positions) into
    * one 32-bit locality code — points close in BOTH dimensions get
    * close codes, so range-partitioning and sorting by the code gives
    * every output file a small bounding box in (a, b) and parquet
    * min/max stats prune scans filtered on EITHER column (the
    * OPTIMIZE-ZORDER layout trick, as plain deterministic arithmetic).
    * Inputs are masked to 16 bits — map values into [0, 65536) first
    * (rank, bin, or modulo; [[equalFreqBins]] gives balanced bins).
    * The classic shift-or-mask spread chain: fixed integer ops,
    * bit-identical across engines, zero shuffle. */
  def mortonCode(a: Column, b: Column): Column = {
    def spread16(x: Column): Column = {
      val v0 = x.cast("long").bitwiseAND(lit(0xFFFFL))
      val v1 = (v0.bitwiseOR(shiftleft(v0, 8))).bitwiseAND(lit(0x00FF00FFL))
      val v2 = (v1.bitwiseOR(shiftleft(v1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
      val v3 = (v2.bitwiseOR(shiftleft(v2, 2))).bitwiseAND(lit(0x33333333L))
      (v3.bitwiseOR(shiftleft(v3, 1))).bitwiseAND(lit(0x55555555L))
    }
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))
  }

  /** Z-order layout: range-partition and sort the frame by the
    * [[mortonCode]] of two dimensions so each written file covers a
    * compact (a, b) rectangle — the data-layout step BEFORE a large
    * parquet write when downstream queries filter on either column.
    * One range shuffle (sampled bounds), in-partition sort, code column
    * dropped — the layout is carried by row order, not schema. */
  def zorderRepartition(aField: String, bField: String,
      partitions: Int)(df: DataFrame): DataFrame = {
    require(partitions >= 1, s"partitions must be >= 1, got $partitions")
    df.withColumn("__z", mortonCode(col(aField), col(bField)))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Leakage-safe target encoding — the tabular-ML categorical encoder
    * done with the repo's leakage discipline: each row's category is
    * replaced by the smoothed mean of the TARGET over the category's
    * OTHER rows (leave-one-out), so a row never sees its own label —
    * the standard failure mode of naive mean encoding is train-time
    * leakage that evaporates at serving.
    *
    *   te = (catSum − y + m·globalMean) / (catCount − 1 + m)
    *
    * with `m = smoothing` the prior pseudo-count pulling rare
    * categories toward the global mean (`m > 0` required — it also
    * keeps singleton categories defined). Rows with a NULL target skip
    * the LOO subtraction (they contributed nothing); NULL categories
    * form their own group via a null-safe join — an encoder must be
    * row-preserving (the imputeMedian lesson). All sums ride the
    * [[scaledSum]] integer discipline at `scale`, so the encoding is
    * bit-identical across engines and run orders.
    *
    * Output: the input plus `<targetField>_te`. Scale shape: ONE
    * |categories|-row hash-agg (map-side combined) + one 1-row global
    * agg broadcast + one null-safe equi-join back — the corpus
    * shuffles once on the category key; at serving time apply the
    * category table WITHOUT LOO ([[targetEncodeStats]] persisted +
    * [[targetEncodeApply]]). */
  def targetEncode(
      catField: String, targetField: String,
      smoothing: Double = 10.0, scale: Double = 1e6)(
      df: DataFrame): DataFrame = {
    require(smoothing > 0.0, s"smoothing must be > 0, got $smoothing")
    val y = col(targetField)
    val stats = df.groupBy(col(catField).as("__cat"))
      .agg(sum(round(y * scale, 0).cast("long")).as("__cs"),
        count(y).as("__cn"))
    val g = df.agg(sum(round(y * scale, 0).cast("long")).as("__gs"),
      count(y).as("__gn"))
    val joined = df
      .join(broadcast(stats), col(catField) <=> col("__cat"), "left")
      .crossJoin(broadcast(g))
    val gMean = (col("__gs").cast("double") / scale) / col("__gn")
    val yScaled = when(y.isNotNull, round(y * scale, 0).cast("long"))
      .otherwise(lit(0L))
    val loo = when(y.isNotNull, lit(1L)).otherwise(lit(0L))
    joined
      .withColumn(s"${targetField}_te",
        // a category whose targets are ALL NULL has a NULL sum — it
        // must still encode (to the pure prior), not go silently NULL
        ((coalesce(col("__cs"), lit(0L)) - yScaled).cast("double") / scale
          + lit(smoothing) * gMean)
          / ((col("__cn") - loo).cast("double") + lit(smoothing)))
      .drop("__cat", "__cs", "__cn", "__gs", "__gn")
  }

  /** The storable statistics frame behind [[targetEncode]]:
    * `(<catField>, te_sum_scaled, te_count)` — integer-scaled target sum
    * and non-NULL target count per category (NULL category is a real
    * group and keeps its row). Because categories partition the corpus,
    * the GLOBAL sum/count are derivable by summing this frame — one
    * artifact serves training refreshes and every serve site. */
  def targetEncodeStats(catField: String, targetField: String,
      scale: Double = 1e6)(df: DataFrame): DataFrame =
    df.groupBy(col(catField))
      .agg(sum(round(col(targetField) * scale, 0).cast("long"))
        .as("te_sum_scaled"),
        count(col(targetField)).as("te_count"))

  /** Serving-time target encoding — [[targetEncode]] WITHOUT the
    * leave-one-out term: at serve time the row's label does not exist,
    * so `te = (catSum + m·globalMean) / (catCount + m)` applied from a
    * stored [[targetEncodeStats]] frame. A category unseen in training
    * (including a NULL one with no stats row) encodes to the pure prior
    * — the only honest answer for a cold category. Global mean derives
    * from the stats frame itself (categories partition the corpus), so
    * the artifact is self-contained. One broadcast null-safe join, one
    * 1-row aggregate — the corpus never shuffles. */
  def targetEncodeApply(stats: DataFrame, catField: String,
      outField: String, smoothing: Double = 10.0, scale: Double = 1e6)(
      df: DataFrame): DataFrame = {
    require(smoothing > 0.0, s"smoothing must be > 0, got $smoothing")
    val s = stats.select(col(catField).as("__cat"),
      col("te_sum_scaled").as("__cs"), col("te_count").as("__cn"))
    val g = s.agg(sum(col("__cs")).as("__gs"), sum(col("__cn")).as("__gn"))
    val gMean = (col("__gs").cast("double") / scale) / col("__gn")
    df.join(broadcast(s), col(catField) <=> col("__cat"), "left")
      .crossJoin(broadcast(g))
      .withColumn(outField,
        (coalesce(col("__cs"), lit(0L)).cast("double") / scale
          + lit(smoothing) * gMean)
          / (coalesce(col("__cn"), lit(0L)).cast("double") + lit(smoothing)))
      .drop("__cat", "__cs", "__cn", "__gs", "__gn")
  }

  /** Feature hashing (the hashing-trick vectorizer, Weinberger et al.
    * 2009): project arbitrary categorical/numeric-as-categorical fields
    * into a fixed `dims`-dimensional double vector with no vocabulary —
    * feature `f=v` adds ±1 at index `hash(f=v) mod dims`, sign from an
    * independent hash bit, which keeps the estimator unbiased under
    * collisions. NULL values contribute nothing. The hash is the shared
    * md5-prefix primitive, so vectors are engine- and growth-stable —
    * no fit step, no dictionary to ship.
    *
    * Pure per-row projection (O(dims·|fields|) adds inside codegen,
    * zero shuffle, no state); the output feeds [[Ops.regression]] /
    * `Similarity` consumers directly. */
  def featureHash(fields: Seq[String], dims: Int,
      salt: String = "fh"): Column = {
    require(fields.nonEmpty, "at least one field to hash")
    require(dims >= 2, s"dims must be >= 2, got $dims")
    def feat(f: String): Column =
      concat(lit(f + "="), col(f).cast("string"))
    def bucket(f: String): Column =
      pmod(graft.functions.GraftFunctions.md5Prefix32(feat(f), salt),
        lit(dims.toLong))
    def sign(f: String): Column =
      when(pmod(graft.functions.GraftFunctions
        .md5Prefix32(feat(f), salt + ":s"), lit(2L)) === 0L, lit(1.0))
        .otherwise(lit(-1.0))
    transform(sequence(lit(0), lit(dims - 1)), j =>
      fields.map(f =>
        when(col(f).isNotNull && bucket(f) === j.cast("long"), sign(f))
          .otherwise(lit(0.0)))
        .reduce(_ + _))
      // parquet/oracle parity: plain nullable-element array schema
      .cast("array<double>")
  }

  /** Shared measure list for the multi-level aggregates (cube / grouping
    * sets): min/max/count as-is, sum/average exact-and-order-insensitive
    * via [[scaledSum]] when a fixed-point scale is supplied. Duplicated
    * (field, fn) entries collapse to one output column (like
    * [[saltedAggregate]] — two identically-named columns would make
    * every later by-name reference ambiguous). */
  private def levelAggs(
      measures: Seq[(String, String)],
      scales: Map[String, Double],
      includeCount: Boolean,
      countField: String): Seq[Column] =
    measures.distinct.map {
      case (f, "min") => min(col(f)).as(s"${f}_min")
      case (f, "max") => max(col(f)).as(s"${f}_max")
      case (f, "count") => count(col(f)).as(s"${f}_count")
      case (f, "sum") => scales.get(f)
        .map(s => scaledSum(col(f), s)).getOrElse(sum(col(f)))
        .as(s"${f}_sum")
      case (f, "average") => scales.get(f)
        // avg ignores nulls -> divide the exact sum by the non-null count
        .map(s => (scaledSum(col(f), s) / count(col(f))))
        .getOrElse(avg(col(f))).as(s"${f}_average")
      case (f, fn) => throw new IllegalArgumentException(
        s"multi-level aggregates support min/max/count/sum/average, got $f/$fn")
    } ++ (if (includeCount) Seq(count(lit(1)).as(countField)) else Nil) :+
      grouping_id().as("grouping_id")

  /** CUBE aggregation — every key-subset total, not just prefixes
    * (ROLLUP ⊂ CUBE). Same Expand + single-shuffle plan shape as
    * [[aggregateRollup]] with 2^keys levels; keep the key list short.
    *
    * min/max/count are order-insensitive as-is. sum/average over double
    * measures are made exact and order-insensitive via [[scaledSum]] when
    * `scales` carries the field's fixed-point scale (1e2 for cents);
    * without a scale entry a plain sum/avg is used — exact only for
    * integral values, fine for engine-internal use but supply a scale
    * whenever results must hash-match another engine. */
  def aggregateCube(
      keys: Seq[String],
      measures: Seq[(String, String)],
      includeCount: Boolean = true,
      countField: String = "record_count",
      scales: Map[String, Double] = Map.empty)(df: DataFrame): DataFrame = {
    val aggs = levelAggs(measures, scales, includeCount, countField)
    df.cube(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Arbitrary GROUPING SETS — the general form ROLLUP and CUBE are
    * special cases of: aggregate at exactly the listed key subsets (e.g.
    * by-status and by-priority in one pass, no (status, priority)
    * level). Same single-shuffle Expand plan as [[aggregateCube]] but
    * with rows × |sets| instead of rows × 2^keys — at scale the reason
    * to enumerate the levels you need rather than cube over everything.
    * Measures follow [[levelAggs]] (scaled exact sums for hash-match). */
  def aggregateGroupingSets(
      sets: Seq[Seq[String]],
      keys: Seq[String],
      measures: Seq[(String, String)],
      includeCount: Boolean = true,
      countField: String = "record_count",
      scales: Map[String, Double] = Map.empty)(df: DataFrame): DataFrame = {
    val aggs = levelAggs(measures, scales, includeCount, countField)
    df.groupingSets(sets.map(_.map(col)), keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Pivot with an explicit value list — extension op. The value list is
    * mandatory: without it Spark runs an eager distinct job at plan time
    * to discover columns, which is both nondeterministic in column order
    * and a hidden scan at scale. Output columns are `<value><suffix>`.
    * Plans as a single hash aggregation (one conditional agg per value);
    * no shuffle beyond the groupBy. */
  def pivot(
      groupKeys: Seq[String],
      pivotField: String,
      values: Seq[String],
      agg: Column,
      suffix: String = "")(df: DataFrame): DataFrame = {
    val wide = df.groupBy(groupKeys.map(col): _*)
      .pivot(pivotField, values).agg(agg)
    if (suffix.isEmpty) wide
    else wide.select(groupKeys.map(col) ++
      values.map(v => col(s"`$v`").as(s"$v$suffix")): _*)
  }

  /** Unpivot (melt) — [[pivot]]'s inverse, extension op: widen-format
    * measure columns become (variable, value) rows. Pure reshaping, one
    * Expand node (rows × |values|) with NO shuffle and no arithmetic —
    * values pass through bit-identically, so even double columns
    * hash-match cross-engine. All melted columns must share a type (cast
    * upstream if mixing). */
  def unpivot(
      ids: Seq[String],
      values: Seq[String],
      varName: String = "variable",
      valName: String = "value")(df: DataFrame): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valName)

  /** Snapshot diff — the inverse companion of
    * [[graft.ops.TemporalOps.applyChanges]]: given two keyed snapshots
    * of "the same" table, emit what happened to each key —
    * `added` (after only), `removed` (before only), `changed` (in
    * both, compared columns differ null-safely). Unchanged keys are
    * NOT emitted: the diff of two 100 TB snapshots that mostly agree
    * is small, and that asymmetry is the point (regression diffing,
    * incremental export manifests, CDC backfill). One full-outer
    * equi-join on the keys with the compared columns riding as one
    * struct per side — AQE handles skew like any join. Output:
    * `keys…, change_type`. CONTRACT: `keys` must identify rows
    * uniquely within each snapshot (the same contract
    * [[graft.ops.TemporalOps.applyChanges]] holds for its target) —
    * duplicate keys would cross-multiply through the outer join. */
  def snapshotDiff(
      keys: Seq[String], compareCols: Seq[String])(
      before: DataFrame, after: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one key column required")
    require(compareCols.nonEmpty, "at least one compared column required")
    val b = before.select(keys.map(col) :+
      struct(compareCols.map(col): _*).as("__b"): _*)
    val a = after.select(keys.map(col) :+
      struct(compareCols.map(col): _*).as("__a"): _*)
    b.join(a, keys, "full_outer")
      .withColumn("change_type",
        when(col("__b").isNull, lit("added"))
          .when(col("__a").isNull, lit("removed"))
          .when(!(col("__b") <=> col("__a")), lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  /** 2-D histogram — the joint-distribution view [[histogram]] cannot
    * give ("are long docs also low-quality?" is a correlation question,
    * but WHERE the mass sits is a binning question). Equal-width bins
    * over CALLER-supplied `[lo, hi)` ranges on both axes (deterministic
    * cutpoints, the [[graft.probes.Probes.numericDrift]] doctrine);
    * out-of-range values CLAMP into edge bins (outliers are mass, not
    * noise); NULL on either axis drops. Per non-empty cell:
    * `(x_bin, y_bin, n, share)` with share = n / total (exact counts,
    * one division; total rides a one-row broadcast). One hash-agg over
    * ≤ xBins·yBins keys. */
  def histogram2d(
      xField: String, xLo: Double, xHi: Double, xBins: Int,
      yField: String, yLo: Double, yHi: Double, yBins: Int)(
      df: DataFrame): DataFrame = {
    require(xBins >= 1 && xBins <= 1000 && yBins >= 1 && yBins <= 1000,
      "bins must be in [1, 1000]")
    require(xHi > xLo && yHi > yLo, "need hi > lo on both axes")
    def binOf(c: Column, lo: Double, hi: Double, bins: Int): Column =
      least(greatest(
        floor((c - lo) / ((hi - lo) / bins)).cast("int"), lit(0)),
        lit(bins - 1))
    val binned = df
      .filter(col(xField).isNotNull && col(yField).isNotNull)
      .select(binOf(col(xField), xLo, xHi, xBins).as("x_bin"),
        binOf(col(yField), yLo, yHi, yBins).as("y_bin"))
      .groupBy("x_bin", "y_bin").agg(count(lit(1)).as("n"))
    val total = binned.agg(sum(col("n")).as("__tot"))
    binned.crossJoin(broadcast(total))
      .select(col("x_bin"), col("y_bin"), col("n"),
        (col("n").cast("double") / col("__tot").cast("double"))
          .as("share"))
      .orderBy("x_bin", "y_bin")
  }

  /** 2-D Pareto front (skyline): rows not dominated on the
    * (`xField`, `yField`) pair, both MAXIMIZED — orient a minimized
    * objective by negating it first. The multi-objective data-selection
    * primitive ("highest quality at the lowest token cost" has no single
    * argmax; the front IS the answer set). Dominance: s dominates r iff
    * s ≥ r on both axes and s > r on at least one; exact duplicates do
    * not dominate each other, so tied optimal points all survive. Rows
    * with a NULL objective are excluded (they cannot be ordered).
    *
    * Distributed via the skyline's distributivity —
    * `sky(A ∪ B) = sky(sky(A) ∪ sky(B))`: stage 1 computes a local front
    * inside each of `buckets` deterministic hash buckets in parallel
    * (dominance is transitive, so any dominator of r in r's bucket is
    * itself dominated only by another dominator of r — some stage-1
    * survivor still dominates r); stage 2 re-runs the same machinery on
    * the survivor union in one partition. That last pass is bounded by
    * the CANDIDATE front size, not the corpus: for independently
    * distributed axes the expected skyline is O(log n), and in general
    * stage 2 is output-bounded — an adversarial corpus whose true front
    * IS the corpus makes any skyline algorithm emit it.
    *
    * Per stage: one (bucket, x) hash-agg to per-x max-y, two ROWS-frame
    * windows over the per-x frame (max y at strictly-greater x, and at
    * ≥ x) — a row survives iff neither max beats its y — then an equi-
    * join back to carry full payload rows. No all-pairs compare at any
    * point. `groupCols` computes an INDEPENDENT front per group (the
    * per-language / per-source frontier) — groups ride every partition
    * key, so stage 2 is one partition per group, not one global. */
  def paretoFront(
      xField: String, yField: String, buckets: Int = 64,
      groupCols: Seq[String] = Nil)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val grp = groupCols.map(col)
    def stage(in: DataFrame): DataFrame = {
      val perX = in.groupBy(grp :+ col("__b") :+ col(xField): _*)
        .agg(max(col(yField)).as("__my"))
      val w = Window.partitionBy(grp :+ col("__b"): _*)
        .orderBy(col(xField).desc)
      val survX = perX
        // max y among strictly greater x (one row per distinct x, so a
        // ROWS frame is exactly the strictly-greater set)
        .withColumn("__m1", max(col("__my")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
        // max y among x' >= x (includes this x's own max)
        .withColumn("__m2", max(col("__my")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(grp :+ col("__b") :+ col(xField) :+ col("__m1") :+
          col("__m2"): _*)
      in.join(survX, groupCols ++ Seq("__b", xField))
        .filter((col("__m1").isNull || col("__m1") < col(yField)) &&
          !(col("__m2") > col(yField)))
        .drop("__m1", "__m2")
    }
    val base = df
      // NULL objectives cannot be ordered; NULL group values would be
      // silently dropped by the equi-join back — exclude both explicitly
      .filter((grp :+ col(xField) :+ col(yField))
        .map(_.isNotNull).reduce(_ && _))
      .withColumn("__b", pmod(hash(col(xField), col(yField)), lit(buckets)))
    stage(stage(base).withColumn("__b", lit(0))).drop("__b")
  }

  /** N-dimensional Pareto front (skyline) over `fields`, ALL MAXIMIZED
    * (negate a minimized objective first) — the d ≥ 3 generalization
    * [[paretoFront]]'s per-x max-y window trick cannot reach (corpus
    * selection immediately wants quality × token-cost × dup-score).
    * Same dominance contract: s dominates r iff s ≥ r on every axis and
    * s > r on at least one; exact ties all survive; NULL objectives and
    * NULL group values are excluded (they cannot be ordered / would be
    * dropped by the join back — documented, like the 2-D op).
    *
    * Same two-stage distributive skyline (`sky(A∪B) = sky(sky(A) ∪
    * sky(B))`), but the per-bucket local front is a sort-filter fold
    * instead of windows: DISTINCT objective tuples per bucket (dupes
    * live or die together — strict-on-one-axis dominance means equal
    * tuples never kill each other) collect into one array, sorted
    * lexicographically DESCENDING across the axes — a topological order
    * for dominance: any dominator of r is ≥ r on axis 1, and strictly
    * greater on the first axis where they differ, so it sorts strictly
    * BEFORE r — then one `aggregate` fold appends each tuple unless an
    * earlier survivor dominates it (the classic SFS skyline, entirely
    * inside codegen'd higher-order functions, no UDF). Survivor tuples
    * equi-join back to carry full payload rows.
    *
    * Cost: O(m·|front|) compares per bucket for m distinct tuples —
    * never all-pairs against the corpus — plus one hash-agg and one
    * join per stage. The per-bucket array is the memory contract: size
    * `buckets` so n/buckets fits an executor (hash-random buckets make
    * sizes uniform; at 100 TB that is a buckets knob, not a redesign).
    * Stage 2 folds the survivor union — output-bounded: for
    * independent axes the expected front is O(logᵈ⁻¹ n), and an
    * adversarial corpus whose true front IS the corpus defeats any
    * skyline algorithm. `groupCols` = independent front per group. */
  def paretoFrontNd(
      fields: Seq[String], buckets: Int = 64,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    require(fields.length >= 2, "need at least two objectives")
    require(fields.distinct.length == fields.length, "duplicate objectives")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val grp = groupCols.map(col)
    val objs = fields.map(col)
    // lexicographic DESC across axes: dominators sort strictly first
    def cmpDesc(l: Column, r: Column): Column =
      fields.foldRight(lit(0)) { (f, rest) =>
        when(l.getField(f) > r.getField(f), lit(-1))
          .when(l.getField(f) < r.getField(f), lit(1))
          .otherwise(rest)
      }
    def dominates(s: Column, r: Column): Column =
      fields.map(f => s.getField(f) >= r.getField(f)).reduce(_ && _) &&
        fields.map(f => s.getField(f) > r.getField(f)).reduce(_ || _)
    def stage(in: DataFrame): DataFrame = {
      val keyCols = grp :+ col("__b")
      val survivors = in
        .select(keyCols ++ objs: _*).distinct()
        .groupBy(keyCols: _*)
        .agg(array_sort(collect_list(struct(objs: _*)),
          (l, r) => cmpDesc(l, r)).as("__pts"))
        .withColumn("__front",
          // functions.aggregate qualified: Ops has its own `aggregate`
          org.apache.spark.sql.functions.aggregate(col("__pts"),
            // slice(…, 1, 0): an empty array of exactly the struct type
            slice(col("__pts"), 1, 0),
            (acc, p) => when(exists(acc, f => dominates(f, p)), acc)
              .otherwise(concat(acc, array(p)))))
        .select(keyCols :+ explode(col("__front")).as("__f"): _*)
        .select(keyCols ++
          fields.map(f => col("__f").getField(f).as(f)): _*)
      in.join(survivors, groupCols ++ Seq("__b") ++ fields)
    }
    val base = df
      .filter((grp ++ objs).map(_.isNotNull).reduce(_ && _))
      .withColumn("__b", pmod(hash(objs: _*), lit(buckets)))
    stage(stage(base).withColumn("__b", lit(0))).drop("__b")
  }

  /** Layered Pareto fronts (onion peeling / skyline layers) — the
    * RANKED form of [[paretoFrontNd]]: corpus selection rarely wants
    * only the frontier; it wants "the best `layers` shells" (take the
    * front, remove it, front the remainder, …) so a token budget can
    * cut at a quality-ranked depth. Each row of the first `layers`
    * shells returns with a 0-based `layer` column; deeper rows are
    * dropped. Same dominance/tie/NULL contract as the Nd front —
    * exact duplicates share a layer (they leave together).
    *
    * Scale shape: `layers` sequential [[paretoFrontNd]] passes, each on
    * the REMAINDER (localCheckpointed per peel, so lineage stays flat
    * and each pass rescans only survivors); the peel itself is one
    * objective-tuple anti-join. Layers is a small constant (a selection
    * depth, not a data size) — the driver loop is bounded plan
    * construction, not per-row work. */
  def paretoLayers(
      fields: Seq[String], layers: Int, buckets: Int = 64,
      groupCols: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    require(layers >= 1 && layers <= 32,
      s"layers is a selection depth, expected 1..32: $layers")
    val objs = fields.map(col)
    var remaining = df
      .filter((groupCols.map(col) ++ objs).map(_.isNotNull).reduce(_ && _))
      .localCheckpoint()
    var out: DataFrame = null
    for (l <- 0 until layers) {
      // pinned: each shell is consumed TWICE (the output union and the
      // next layer's anti-join), and unpinned the whole two-stage
      // skyline subtree re-executed per consumer — plus once more in a
      // caller's closing range-sort sampling pass. Front-sized (the
      // output class), bit-identical.
      val front = paretoFrontNd(fields, buckets, groupCols)(remaining)
        .withColumn("layer", lit(l))
        .localCheckpoint()
      out = if (out == null) front else out.unionByName(front)
      if (l < layers - 1)
        remaining = remaining.join(
          front.select((groupCols ++ fields).map(col): _*).distinct(),
          groupCols ++ fields, "left_anti")
          .localCheckpoint()
    }
    out
  }

  /** Pairwise Pearson correlation matrix from EXPLICIT sufficient
    * statistics — deliberately not the engine's `corr()` (Welford-
    * ordered, never hash-matches cross-engine): per group and field
    * pair, one aggregation collects the six pairwise-complete sums
    * (n, Σa, Σb, Σab, Σa², Σb² over rows where BOTH fields are
    * non-NULL), then r = (n·Σab − Σa·Σb) / (√(n·Σa² − Σa²)·√(n·Σb² −
    * Σb²)) entirely in doubles — each step one IEEE op, mirrored by
    * the oracle. Zero-variance/degenerate pairs (n < 2 included) emit
    * NULL. The money doctrine applies: sums are exact (hence
    * order-independent) while inputs are integral-valued and Σx² stays
    * under 2⁵³ — scale pennies to dollars at the SF where cents
    * overflow. ONE hash-agg however many pairs; output long-format
    * `keys…, field_a, field_b, n_pairs, corr` via a zero-collect
    * explode. */
  def corrMatrix(
      keys: Seq[String], fields: Seq[String])(df: DataFrame): DataFrame = {
    require(fields.distinct.length == fields.length, "duplicate fields")
    require(fields.length >= 2, "need at least two fields")
    val pairs = for {
      i <- fields.indices; j <- fields.indices if i < j
    } yield (fields(i), fields(j))
    val aggs = pairs.flatMap { case (a, b) =>
      val both = col(a).isNotNull && col(b).isNotNull
      val ca = when(both, col(a).cast("double"))
      val cb = when(both, col(b).cast("double"))
      Seq(
        count(when(both, lit(1))).cast("double").as(s"__n_${a}_$b"),
        sum(ca).as(s"__sa_${a}_$b"), sum(cb).as(s"__sb_${a}_$b"),
        sum(ca * cb).as(s"__sab_${a}_$b"),
        sum(ca * ca).as(s"__saa_${a}_$b"),
        sum(cb * cb).as(s"__sbb_${a}_$b"))
    }
    val grouped =
      if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val cells = pairs.map { case (a, b) =>
      val n = col(s"__n_${a}_$b"); val sa = col(s"__sa_${a}_$b")
      val sb = col(s"__sb_${a}_$b"); val sab = col(s"__sab_${a}_$b")
      val saa = col(s"__saa_${a}_$b"); val sbb = col(s"__sbb_${a}_$b")
      val den = sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb)
      struct(lit(a).as("field_a"), lit(b).as("field_b"),
        n.cast("long").as("n_pairs"),
        when(den === 0.0 || den.isNaN, lit(null).cast("double"))
          .otherwise((n * sab - sa * sb) / den).as("corr"))
    }
    grouped.select(keys.map(col) :+ explode(array(cells: _*)).as("__c"): _*)
      .select(keys.map(col) :+ col("__c.*"): _*)
  }

  /** Per-group simple linear regression (y on x) from EXPLICIT
    * sufficient statistics — [[corrMatrix]]'s modeling sibling and the
    * same cross-engine doctrine: one hash-agg collects the five
    * pairwise-complete sums (n, Σx, Σy, Σxy, Σx², Σy² over rows where
    * BOTH fields are non-NULL), then the closed-form OLS line
    * `slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`,
    * `intercept = (Σy − slope·Σx) / n`,
    * `r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))`
    * entirely in doubles, each step one IEEE op mirrored by the
    * oracle. Degenerate groups (constant x, n < 2) emit NULL slope/
    * intercept/r²; constant y with varying x legitimately fits a flat
    * line (slope 0, r² NULL since the correlation is undefined). The
    * money doctrine applies: keep inputs integral-valued so the sums
    * are exact and order-independent (Σx² under 2⁵³).
    *
    * Scale shape: identical to any keyed aggregation — ONE shuffle
    * with map-side partial sums, no second pass, no sort. This is the
    * trend-per-segment probe (price vs quantity per region, quality
    * vs length per source) that answers "is the relationship the same
    * in every slice?" without an ML pipeline.
    *
    * Output: `keys…, n_pairs, slope, intercept, r2`. */
  def regression(
      keys: Seq[String], xField: String, yField: String)(
      df: DataFrame): DataFrame = {
    require(xField != yField, "x and y must be different fields")
    val both = col(xField).isNotNull && col(yField).isNotNull
    val x = when(both, col(xField).cast("double"))
    val y = when(both, col(yField).cast("double"))
    val aggs = Seq(
      count(when(both, lit(1))).cast("double").as("__n"),
      sum(x).as("__sx"), sum(y).as("__sy"), sum(x * y).as("__sxy"),
      sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
    val grouped =
      if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val n = col("__n"); val sx = col("__sx"); val sy = col("__sy")
    val sxy = col("__sxy"); val sxx = col("__sxx"); val syy = col("__syy")
    val dx = n * sxx - sx * sx
    val dy = n * syy - sy * sy
    val cov = n * sxy - sx * sy
    val slope = cov / dx
    grouped.select(keys.map(col) ++ Seq(
      n.cast("long").as("n_pairs"),
      when(dx === 0.0, lit(null).cast("double"))
        .otherwise(slope).as("slope"),
      when(dx === 0.0, lit(null).cast("double"))
        .otherwise((sy - slope * sx) / n).as("intercept"),
      when(dx === 0.0 || dy === 0.0, lit(null).cast("double"))
        .otherwise((cov * cov) / (dx * dy)).as("r2")): _*)
  }

  /** Equal-WIDTH histogram — [[equalFreqBins]]'s fixed-grid sibling
    * (audit/dashboard shape: comparable bins across runs and tables,
    * no percentile pass): bin `b ∈ [1, nBins]` covers
    * `[lo + (b−1)·w, lo + b·w)` with `w = (hi−lo)/nBins`, the top edge
    * right-closed (`x = hi` lands in bin `nBins`). Values outside
    * `[lo, hi]` and NULLs report a NULL bin and are counted under it —
    * outliers are visible, never silently dropped. Emits only OCCUPIED
    * bins (one hash-agg; join a `sequence()` spine for a dense grid).
    * The bin arithmetic is one subtraction, one division by the span,
    * one multiply, one floor — mirrored op-for-op by the oracle. */
  def histogram(
      keys: Seq[String], field: String,
      lo: Double, hi: Double, nBins: Int)(df: DataFrame): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    val x = col(field)
    val bin = when(x.isNull || x < lo || x > hi, lit(null).cast("long"))
      .otherwise(least(
        (floor((x - lit(lo)) / lit(hi - lo) * nBins) + 1L).cast("long"),
        lit(nBins.toLong)))
    val gb = keys.map(col) :+ bin.as(s"${field}_bin")
    df.groupBy(gb: _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("bin_lo",
        when(col(s"${field}_bin").isNull, lit(null).cast("double"))
          .otherwise(lit(lo) + (col(s"${field}_bin") - 1L) *
            lit((hi - lo) / nBins)))
  }

  /** Pivot (crosstab) — [[unpivot]]'s inverse: one output column per
    * EXPLICIT pivot value, `<value>_<fn>` of `measure` over the rows
    * where `pivotField` equals that value. Lowered to conditional
    * aggregation (one `fn(CASE WHEN pivot = v THEN measure END)` per
    * value inside a single hash aggregate) rather than Spark's
    * two-phase `Dataset.pivot`, for three reasons that matter here:
    * the column set is deterministic at plan time (no extra
    * distinct-values job — which at 100 TB is a full shuffle just to
    * learn the schema), the naming is under our control, and the plan
    * is the exact shape the oracle replays (`FILTER (WHERE …)`).
    * Explicit values are therefore REQUIRED; rows with other (or NULL)
    * pivot values simply feed no bucket, and a bucket no row feeds is
    * NULL (`count`: 0). `average` is the per-bucket sum/count division.
    * One shuffle on `keys`, map-side partials — the same cost as any
    * [[aggregate]]. */
  def pivotAgg(
      keys: Seq[String],
      pivotField: String,
      pivotValues: Seq[String],
      measure: String,
      fn: String = "sum")(df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    require(pivotValues.nonEmpty, "explicit pivot values required")
    require(pivotValues.distinct.length == pivotValues.length,
      "duplicate pivot values")
    val aggs = pivotValues.map { v =>
      val m = when(col(pivotField) === v, col(measure))
      (fn match {
        case "sum"     => sum(m)
        case "min"     => min(m)
        case "max"     => max(m)
        case "count"   => count(m)
        case "average" => sum(m) / count(m)
        case other => throw new IllegalArgumentException(
          s"unsupported pivot aggregate '$other' " +
            "(supported: sum, min, max, count, average)")
      }).as(s"${v}_$fn")
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact percentiles per group — extension op (SURVEY.md §2.5 lists
    * percentile as a Spark built-in beyond the reference). Linear
    * interpolation, matching DuckDB's quantile_cont bit-for-bit (verified
    * on the fixtures). Output columns `<field>_p<pct>`. Exact percentile
    * buffers each group's values — at 100 TB prefer approx_percentile;
    * this is the oracle-comparable form. */
  /** The percentile-family production knob (the `exactOrder=false`
    * pattern applied to quantiles): exact interpolating `percentile`
    * buffers and sorts every group in memory — correct, oracle-exact,
    * and the right default; `approx = true` routes the same aggregation
    * through `percentile_approx` (GK sketch, bounded memory per group
    * regardless of group size — the 100 TB path), trading oracle
    * exactness for an `accuracy`-controlled rank error (10000 ≈ 0.01%).
    * Plan shape is IDENTICAL either way — only the aggregate differs. */
  private def pctlAgg(
      c: Column, pcts: Column, approx: Boolean, accuracy: Int): Column =
    if (approx) percentile_approx(c, pcts, lit(accuracy))
    else percentile(c, pcts)

  /** Winsorize: clip `field` into its own group's exact
    * [pLow, pHigh] percentile interval — the outlier treatment that
    * keeps rows (unlike a filter) and bounds their leverage, per group
    * so heterogeneous segments each keep their own scale. NULL values
    * stay NULL (they are not "below the low bound"); a group whose
    * bounds are NULL (all-NULL field) passes values through.
    *
    * Scale shape: one percentile aggregation per group — exact by
    * default (oracle-comparable), `approx = true` for the bounded-
    * memory sketch path ([[pctlAgg]], tolerance-spec'd) — + one
    * broadcast-friendly equi-join of the tiny bounds frame back onto
    * the rows. The clip itself is a pure projection. */
  def winsorize(
      keys: Seq[String], field: String,
      pLow: Double, pHigh: Double,
      outField: String = "", approx: Boolean = false,
      accuracy: Int = 10000)(df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    require(pLow >= 0 && pHigh <= 1 && pLow <= pHigh,
      s"need 0 <= pLow <= pHigh <= 1, got [$pLow, $pHigh]")
    val out = if (outField.isEmpty) s"${field}_w" else outField
    // ONE percentile buffer per group (array form): two scalar
    // percentile aggregates would each buffer and sort the group
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(pctlAgg(col(field), array(lit(pLow), lit(pHigh)),
        approx, accuracy).as("__b"))
      .select((keys.map(col) :+ element_at(col("__b"), 1).as("__lo") :+
        element_at(col("__b"), 2).as("__hi")): _*)
      // pinned: ≤|groups| rows over a full-table exact percentile sort —
      // a caller's closing range-sort would otherwise re-execute the
      // whole percentile subtree in its sampling pass (the robustZScore
      // note); bit-identical, one percentile pass total
      .localCheckpoint()
    df.join(bounds, keys)
      .withColumn(out,
        when(col(field).isNull, lit(null))
          .otherwise(least(greatest(col(field), col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** Largest-remainder (Hamilton) apportionment — divide an INTEGER
    * budget across groups proportionally to integral weights with the
    * invariant a float split cannot give: allocations are integers and
    * they SUM TO EXACTLY `total`. The budget step of corpus assembly
    * (docs per source, fetch slots per domain, samples per stratum)
    * where `round(total·w/W)` drifts by ±|groups| and truncation
    * under-spends. Each group gets `⌊total·w_g/W⌋` plus one of the
    * leftover units, awarded by largest remainder `(total·w_g) mod W`
    * (group-ascending tiebreak — deterministic, oracle-replayable).
    * Pure integer arithmetic end to end; caller guarantees
    * `total·max(w) < 2⁶³` (decimal widening is the escape hatch when a
    * budget ever approaches that). Input is one row per group with a
    * non-negative integral weight; W = 0 allocates all zeros rather
    * than dividing by it. Two one-row broadcasts + one window over the
    * \|groups\|-row frame. */
  def proportionalAllocate(
      groupField: String, weightField: String, total: Long)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(total >= 0, s"total must be >= 0, got $total")
    val w = df.select(col(groupField).as("__g"),
      col(weightField).cast("long").as("__w"))
    val tot = w.agg(coalesce(sum(col("__w")), lit(0L)).as("__wsum"))
    val based = w.crossJoin(broadcast(tot))
      .withColumn("__num", lit(total) * col("__w"))
      .withColumn("__base",
        when(col("__wsum") === 0L, lit(0L))
          .otherwise(expr("__num div __wsum")))
      .withColumn("__rem",
        when(col("__wsum") === 0L, lit(0L))
          .otherwise(col("__num") % col("__wsum")))
    val spent = based.agg(coalesce(sum(col("__base")), lit(0L))
      .as("__spent"), max(col("__wsum")).as("__wsum2"))
    based.crossJoin(broadcast(spent))
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("__rem").desc, col("__g").asc)))
      .withColumn("allocation",
        col("__base") + when(col("__wsum2") =!= 0L &&
          col("__rn") <= lit(total) - col("__spent"), 1L).otherwise(0L))
      .select(col("__g").as(groupField),
        col("__w").as(weightField), col("allocation"))
  }

  /** Median imputation — the missing-data FIX next to the probes that
    * report it ([[graft.probes.Probes.audit]] counts the NULLs,
    * `empty_to_missing` normalizes them, this one fills them): NULL
    * values of `field` are replaced by their group's EXACT median
    * (Spark's interpolating `percentile`, the repo-wide quantile
    * convention — `quantile_cont` in the oracle), per the `keys`
    * grouping, or globally when `keys` is empty. Median over the
    * NON-NULL values only (percentile skips NULLs); a group that is
    * all-NULL has no median and keeps its NULLs — imputing from
    * nothing would be fabrication. The median-not-mean choice is
    * deliberate: robust to the same tails [[winsorize]] exists for,
    * and exactly reproducible cross-engine where an unordered float
    * mean of a group is not. One percentile hash-agg (buffered per
    * group, the documented exact-percentile memory contract) + one
    * NULL-SAFE join back (`<=>` per key — an equi-join would silently
    * DROP rows whose group key is NULL, and an imputation op must be
    * row-preserving; the NULL-key group imputes from its own median
    * like any other group); ungrouped mode is a one-row broadcast.
    * `approx = true` swaps in the bounded-memory sketch median
    * ([[pctlAgg]]) — the production knob for beyond-memory groups. */
  def imputeMedian(
      field: String, keys: Seq[String] = Nil,
      outField: String = "", approx: Boolean = false,
      accuracy: Int = 10000)(df: DataFrame): DataFrame = {
    val out = if (outField.isEmpty) field else outField
    val med = pctlAgg(col(field), lit(0.5), approx, accuracy).as("__med")
    val filled =
      if (keys.isEmpty) {
        df.crossJoin(broadcast(df.agg(med)))
      } else {
        val stats = df.groupBy(keys.map(col): _*).agg(med)
          .select(keys.map(k => col(k).as(s"__mk_$k")) :+ col("__med"): _*)
        val cond = keys.map(k => col(k) <=> col(s"__mk_$k")).reduce(_ && _)
        df.join(stats, cond, "left")
          .drop(keys.map(k => s"__mk_$k"): _*)
      }
    filled
      .withColumn(out, coalesce(col(field), col("__med")))
      .drop("__med")
  }

  /** Per-group min–max feature scaling: `(x − min) / (max − min)` onto
    * [0, 1]. Degenerate groups (one distinct value) scale to 0.0 rather
    * than NaN; NULLs stay NULL (the [[threshold]] doctrine). One
    * hash-agg for the tiny per-group stats table, broadcast back, one
    * codegen'd projection — min/max pass through exactly, so the
    * normalization is bit-reproducible for ANY double input (no sums
    * anywhere). */
  def minMaxNormalize(
      keys: Seq[String], field: String, target: String = "")(
      df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    val out = if (target.isEmpty) s"${field}_mm" else target
    val stats = df.groupBy(keys.map(col): _*)
      .agg(min(col(field)).as("__lo"), max(col(field)).as("__hi"))
    df.join(stats, keys)
      .withColumn(out,
        when(col(field).isNull, lit(null))
          .when(col("__hi") === col("__lo"), lit(0.0))
          .otherwise((col(field) - col("__lo")) / (col("__hi") - col("__lo"))))
      .drop("__lo", "__hi")
  }

  /** Per-group z-score standardization from EXPLICIT sufficient
    * statistics: `n`, `Σx`, `Σx²` → `mean = Σx/n`,
    * `ssd = Σx² − Σx·mean`, `std = √(ssd/(n−1))`,
    * `z = (x − mean)/std` — spelled out rather than calling the
    * engine's `stddev`, because Welford-style streaming variance visits
    * rows in engine-specific order and never hash-matches across
    * engines; this formula is deterministic IEEE given exact sums.
    * Exactness therefore holds for integral-valued or scaled-long
    * inputs (the money doctrine — Σx² of a 2-decimal price overflows
    * the 53-bit exact window around ~10⁸ rows; rescale first).
    * Degenerate groups (n < 2 or zero spread) emit 0.0; NULLs stay
    * NULL. Same broadcast-stats shape as [[minMaxNormalize]]. */
  def zscoreNormalize(
      keys: Seq[String], field: String, target: String = "")(
      df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    val out = if (target.isEmpty) s"${field}_z" else target
    val stats = df.groupBy(keys.map(col): _*)
      .agg(count(col(field)).as("__n"), sum(col(field)).as("__s"),
        sum(col(field) * col(field)).as("__ss"))
      .withColumn("__mean", col("__s") / col("__n"))
      .withColumn("__ssd", col("__ss") - col("__s") * col("__mean"))
      .withColumn("__std",
        when(col("__n") < 2 || col("__ssd") <= 0.0, lit(0.0))
          .otherwise(sqrt(col("__ssd") / (col("__n") - 1))))
    df.join(stats, keys)
      .withColumn(out,
        when(col(field).isNull, lit(null))
          .when(col("__std") === 0.0, lit(0.0))
          .otherwise((col(field) - col("__mean")) / col("__std")))
      .drop("__n", "__s", "__ss", "__mean", "__ssd", "__std")
  }

  /** Per-group ROBUST z-score: `(x − median) / (1.4826 · MAD)` with
    * MAD = median(|x − median|) — the outlier detector that still works
    * when the outliers themselves poison mean/stddev (a single 10⁹
    * glitch row drags a classical z-score's mean; the median barely
    * moves). 1.4826 is the normal-consistency constant (MAD → σ under
    * normality), a shared literal in both engines. Zero-MAD groups
    * (≥ half the group on one value) emit 0.0; NULLs stay NULL.
    *
    * Shape: two percentile aggregations (median, then MAD over the
    * deviations) + two broadcast-sized stats joins — double the
    * [[winsorize]] machinery, the honest price of robustness;
    * `approx = true` swaps BOTH percentiles for the bounded-memory
    * sketch ([[pctlAgg]]) beyond per-group memory bounds. Exact mode is
    * cross-engine for any doubles: medians interpolate identically (the
    * `quantile_cont` precedent), the rest is a pinned IEEE op chain. */
  def robustZScore(
      keys: Seq[String], field: String, target: String = "",
      approx: Boolean = false, accuracy: Int = 10000)(
      df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    val out = if (target.isEmpty) s"${field}_rz" else target
    // both stats frames are ≤|groups| rows but sit on exact sort-based
    // percentile aggregations over the FULL table; `withMed` is
    // consumed twice (the MAD pass and the final join) and a caller's
    // closing range-sort samples its child once more — unpinned, the
    // median percentile subtree re-executed up to 4× (measured on the
    // robust_z cell: 2 × ~1.6 s duplicate stages of a ~5 s cell).
    // Pinning the tiny frames runs each percentile pass exactly once;
    // values are bit-identical (same dag, materialized).
    val med = df.groupBy(keys.map(col): _*)
      .agg(pctlAgg(col(field), lit(0.5), approx, accuracy).as("__med"))
      .localCheckpoint()
    val withMed = df.join(med, keys)
    val mad = withMed.groupBy(keys.map(col): _*)
      .agg(pctlAgg(abs(col(field) - col("__med")), lit(0.5),
        approx, accuracy).as("__mad"))
      .localCheckpoint()
    withMed.join(mad, keys)
      .withColumn(out,
        when(col(field).isNull, lit(null))
          .when(col("__mad") === 0.0, lit(0.0))
          .otherwise((col(field) - col("__med")) /
            (lit(1.4826) * col("__mad"))))
      .drop("__med", "__mad")
  }

  /** Preference-pair construction — the DPO/RLHF training-data
    * assembly step: within each group (a prompt, a query, a dedup
    * cluster), pair the `pairsPerGroup` HIGHEST-scoring rows (chosen)
    * with the same number of LOWEST-scoring rows (rejected), matched
    * by rank position (best vs worst, 2nd-best vs 2nd-worst, …), and
    * keep pairs whose score margin reaches `minMargin` — zero-margin
    * pairs are label noise for a preference objective, so set a real
    * margin in production (the 0.0 default keeps the op total).
    * Deterministic: chosen ranks break ties (score desc, id asc),
    * rejected ranks mirror them (score asc, id desc); the top-k and
    * bottom-k picks must not CROSS (pairs keep `2·rank ≤ group size`),
    * so a row never pairs with itself, a pair never emits with its own
    * mirror (contradictory labels for the same two rows), and a
    * two-row group pairs exactly once at any `pairsPerGroup`;
    * NULL scores/groups are excluded (they cannot be ranked).
    * Output: `(group, chosen_id, rejected_id, chosen_score,
    * rejected_score, margin)`.
    *
    * Scale shape: two rank windows over the same (group) partitioning
    * — ONE shuffle, Spark reuses the exchange — each WindowGroupLimit-
    * pruned to pairsPerGroup before the rank-position equi-join of two
    * ≤ pairsPerGroup·|groups| frames. Never an in-group cross join:
    * candidate volume is linear in groups, not quadratic in group
    * size. */
  def preferencePairs(
      groupField: String, idField: String, scoreField: String,
      minMargin: Double = 0.0, pairsPerGroup: Int = 1)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pairsPerGroup >= 1, s"pairsPerGroup must be >= 1: $pairsPerGroup")
    require(minMargin >= 0.0, s"minMargin must be >= 0: $minMargin")
    val base = df
      .filter(col(scoreField).isNotNull && col(groupField).isNotNull)
      .select(col(groupField).as("__g"), col(idField).as("__id"),
        col(scoreField).as("__s"))
    val byG = Window.partitionBy(col("__g"))
    val top = base.withColumn("__rk", row_number().over(
        byG.orderBy(col("__s").desc, col("__id").asc)))
      .withColumn("__n", count(lit(1)).over(byG))
      .filter(col("__rk") <= pairsPerGroup &&
        col("__rk") * 2 <= col("__n")) // top/bottom picks must not cross
      .select(col("__g"), col("__rk"), col("__id").as("chosen_id"),
        col("__s").as("chosen_score"))
    val bot = base.withColumn("__rk", row_number().over(
        byG.orderBy(col("__s").asc, col("__id").desc)))
      .filter(col("__rk") <= pairsPerGroup)
      .select(col("__g"), col("__rk"), col("__id").as("rejected_id"),
        col("__s").as("rejected_score"))
    top.join(bot, Seq("__g", "__rk"))
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
      .filter(col("margin") >= minMargin)
      .select(col("__g").as(groupField), col("chosen_id"),
        col("rejected_id"), col("chosen_score"), col("rejected_score"),
        col("margin"))
  }

  /** Quantile normalization onto the POOLED distribution — the
    * cross-source score equalizer: per-source quality scores (model
    * scores, length stats) are not comparable — source A's 0.8 may be
    * its median while source B's 0.8 is its 99th percentile — so one
    * global keep-threshold silently over-prunes some sources. This op
    * replaces each row's value with the pooled value at the SAME
    * within-group quantile: `k`-th of `n_g` in its group → the pooled
    * sorted value at index `⌈k·N/n_g⌉` (type-1/inverse-CDF
    * convention). After it, equal normalized values mean equal
    * within-source standing, and one global threshold cuts every
    * source at the same quantile.
    *
    * Exactness: the normalized value is an EXACT COPY of some input
    * value — the index arithmetic is pure integers
    * (`(k·N + n_g − 1) div n_g`, exact to N ≤ ~3·10⁹ before k·N
    * approaches the long ceiling — beyond that, shard first), no
    * float anywhere. Determinism needs `(group, tieBreak)` unique per
    * row (the caller's key), making both the pooled (value, group,
    * tie) order and the in-group (value, tie) order total.
    *
    * Scale shape: the pooled index rides a range-partitioned sort +
    * RDD `zipWithIndex` (per-partition offsets, one light extra job —
    * NEVER a single-partition window, the [[sample]]-nth plan); the
    * group rank is an ordinary per-group window; one equi-join on the
    * pooled index closes the map. NULL values drop. Output:
    * `group, tieBreak, <value> (double), rank, normalized`. */
  def quantileNormalize(
      groupField: String, valueField: String, tieBreak: String)(
      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val base = df.filter(col(valueField).isNotNull)
      .select(col(groupField).as("__g"),
        col(valueField).cast("double").as("__v"),
        col(tieBreak).as("__tb"))
      .localCheckpoint() // feeds the pooled sort AND the group ranks
    val sorted = base.orderBy(col("__v"), col("__g"), col("__tb"))
    val pooledSchema = StructType(sorted.schema.fields :+
      StructField("__j", LongType, nullable = false))
    val pooled = spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
      }, pooledSchema)
      .select(col("__j"), col("__v").as("__pv"))
    val n = pooled.agg(max(col("__j")).as("__n"))
    val wg = Window.partitionBy(col("__g"))
      .orderBy(col("__v"), col("__tb"))
    val ranked = base
      .withColumn("__k", row_number().over(wg))
      .withColumn("__ng",
        count(lit(1)).over(Window.partitionBy(col("__g"))))
      .crossJoin(broadcast(n))
      .withColumn("__idx",
        expr("(__k * __n + __ng - 1) div __ng"))
    ranked.join(pooled, ranked("__idx") === pooled("__j"))
      .select(col("__g").as(groupField), col("__tb").as(tieBreak),
        col("__v").as(valueField), col("__k").as("rank"),
        col("__pv").as("normalized"))
  }

  /** Pin a per-round iteration-state frame: materialize
    * (localCheckpoint) AND re-wrap the cached rows in a fresh
    * `LogicalRDD` so Catalyst's size statistics reset to the session
    * default instead of carrying the round's plan estimate forward.
    *
    * Why this exists: since Spark 3.4 `localCheckpoint` propagates the
    * ORIGINAL plan's statistics into the checkpointed leaf
    * (SPARK-39902), and `SizeInBytesOnlyStatsPlanVisitor` estimates a
    * join's `sizeInBytes` as the PRODUCT of its children's. An
    * iterative op whose round references the previous state twice
    * (e.g. [[bradleyTerry]]'s denominator joins the strength frame on
    * both endpoints) therefore SQUARES the estimate every round — the
    * BigInt's digit count doubles per iteration, and by round ~18 the
    * driver spends tens of seconds per round inside BigInteger
    * Karatsuba multiplication during planning (measured: 0.35 s/round
    * flat through round 14, then 0.7 → 1.1 → 2.1 → 5.4 → 14 s — a
    * pure driver-side planning stall; executor tasks stay idle). The
    * RDD round-trip costs one InternalRow↔Row conversion of a
    * state-sized frame per round — noise for the ≤|items| frames the
    * iterative ops carry — and restores constant per-round planning
    * cost at any iteration count. */
  private[graft] def pinIterationState(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** Bradley–Terry strength fitting over pairwise outcomes — the
    * model that turns [[preferencePairs]]-style win/loss data into a
    * per-item quality scale (annotator A/B verdicts → document
    * strengths; model-vs-model eval duels → leaderboard scores): the
    * probability i beats j is `pᵢ/(pᵢ+pⱼ)`, fit by `iterations`
    * rounds of the classical MM update
    * `pᵢ ← wᵢ / Σⱼ nᵢⱼ/(pᵢ+pⱼ)`, L1-normalized each round (the
    * scale is arbitrary; normalizing keeps floats bounded and makes
    * runs comparable). Fixed iteration count, uniform start — the
    * [[graft.ext.GraphOps.pageRank]] doctrine, and the same
    * cross-engine exactness machinery: per-item partner folds pinned
    * by partner id, the global normalizer pinned by item id, each
    * step a fixed division chain the oracle re-spells.
    *
    * Doctrine: NULL endpoints and self-comparisons drop; `wᵢ` counts
    * wins, `nᵢⱼ` comparisons in either direction. An item that never
    * wins sinks to strength 0 (its true MLE); a comparison between
    * two zero-strength items contributes 0 to the denominator (no
    * information — the guard that keeps 0/0 out of the chain; both
    * engines spell the same CASE). `exactOrder = false` swaps the
    * pinned folds for plain order-free sums (production mode at
    * item-count scale, ≤1e-12-relative parity spec-pinned).
    *
    * Scale shape: per iteration one equi-join of the directed
    * comparison-count frame (|item-pairs| rows, NOT raw comparisons —
    * pre-aggregated once) with the |items| strength frame + one
    * hash-agg; k iterations = k bounded shuffles; frames
    * localCheckpoint once. Output:
    * `item, wins, comparisons, strength`. */
  def bradleyTerry(
      winnerField: String, loserField: String,
      iterations: Int = 10, exactOrder: Boolean = true)(
      comparisons: DataFrame): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    val base = comparisons
      .select(col(winnerField).as("__w"), col(loserField).as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
    // directed pair counts: each comparison lands once as (i=w, j=l)
    // and once as (i=l, j=w), so n is the symmetric n_ij seen from i
    val dir = base
      .select(col("__w").as("__i"), col("__l").as("__j"))
      .unionByName(base.select(col("__l").as("__i"), col("__w").as("__j")))
      .groupBy(col("__i"), col("__j"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    val items = dir.select(col("__i")).distinct().localCheckpoint()
    val wins = base.groupBy(col("__w").as("__i"))
      .agg(count(lit(1)).as("__wins"))
    val stats = items
      .join(wins, Seq("__i"), "left")
      .select(col("__i"), coalesce(col("__wins"), lit(0L)).as("__wins"))
      .localCheckpoint()
    def pinnedSum(key: Column, term: Column) =
      if (exactOrder)
        // functions.aggregate spelled fully — Ops.aggregate (the §2.5
        // operator) shadows the name inside this object
        org.apache.spark.sql.functions.aggregate(
          sort_array(collect_list(struct(key.as("__k"), term.as("__t")))),
          lit(0.0), (acc, x) => acc + x.getField("__t"))
      else sum(term)
    var p = items.select(col("__i"), lit(1.0).as("__p"))
      .localCheckpoint()
    var i = 0
    while (i < iterations) {
      val den = dir
        .join(p.select(col("__i"), col("__p").as("__pi")), "__i")
        .join(p.select(col("__i").as("__j"), col("__p").as("__pj")),
          "__j")
        .groupBy(col("__i"))
        .agg(pinnedSum(col("__j"),
          when(col("__pi") + col("__pj") === 0.0, lit(0.0))
            .otherwise(col("__n").cast("double") /
              (col("__pi") + col("__pj")))).as("__den"))
      val praw = stats
        .join(den, Seq("__i"))
        .select(col("__i"),
          when(col("__den") === 0.0, lit(0.0))
            .otherwise(col("__wins").cast("double") / col("__den"))
            .as("__praw"))
      val tot = praw.agg(
        pinnedSum(col("__i"), col("__praw")).as("__tot"))
      // pinIterationState, not a bare localCheckpoint: each round joins
      // p on BOTH endpoints, so propagated size stats would square
      // every iteration (see the helper's scaladoc for the measured
      // planning blowup past ~15 rounds)
      p = pinIterationState(praw.crossJoin(broadcast(tot))
        .select(col("__i"), (col("__praw") / col("__tot")).as("__p")))
      i += 1
    }
    val nTot = dir.groupBy(col("__i"))
      .agg(sum(col("__n")).as("comparisons"))
    stats
      .join(nTot, Seq("__i"))
      .join(p, Seq("__i"))
      .select(col("__i").as("item"), col("__wins").as("wins"),
        col("comparisons"), col("__p").as("strength"))
  }

  /** Survivorship merge — the golden-record step that follows any of the
    * dedup clusterings ([[graft.ext.Dedup.clusterDedup]] /
    * `connectedComponents` output joined back, or any natural entity
    * key): collapse each cluster to ONE record, field by field, under an
    * explicit per-field rule. Rules:
    *
    *   - `max` / `min` / `sum` — plain NULL-ignoring aggregates;
    *   - `majority` — most frequent non-NULL value, count ties broken by
    *     the SMALLER value (deterministic mode);
    *   - `latest` / `earliest` — the non-NULL value carried by the
    *     newest/oldest row, "newest" meaning the largest
    *     `(recencyField, tieField)` pair; `tieField` must be unique per
    *     row (a key) or the pick is undefined. Rows whose value is NULL
    *     are skipped, so `latest` digs past a NULL in the newest row to
    *     the newest row that HAS the field — the survivorship semantics
    *     (a blank never overwrites data).
    *
    * A cluster with every value NULL merges to NULL under every rule.
    * Output: `(<clusterField>, record_count, <field per rule, original
    * names>)` — one row per cluster.
    *
    * Scale shape: ONE hash-aggregate over the cluster key; every rule —
    * including majority via deterministic `mode` and latest/earliest via
    * max/min over a `(recency, tie, value)` struct — is an ordinary
    * partial-merge aggregate, so map-side combine applies and no
    * windows, joins, or per-cluster materialization exist. Skewed giant
    * clusters cost what any groupBy key costs; route through
    * [[saltedAggregate]]-style pre-splitting only if a single entity
    * exceeds a task. */
  def goldenRecord(
      clusterField: String,
      rules: Seq[(String, String)],
      recencyField: Option[String] = None,
      tieField: Option[String] = None)(df: DataFrame): DataFrame = {
    require(rules.nonEmpty, "at least one field rule required")
    require(rules.map(_._1).distinct.size == rules.size,
      "one rule per field (duplicate field in rules)")
    val needsRec = rules.exists(r => r._2 == "latest" || r._2 == "earliest")
    require(!needsRec || (recencyField.isDefined && tieField.isDefined),
      "latest/earliest rules require recencyField and tieField")
    def stamped(f: String): Column = when(col(f).isNotNull,
      struct(col(recencyField.get).as("__r"), col(tieField.get).as("__t"),
        col(f).as("__v")))
    val aggs = rules.map {
      case (f, "max") => max(col(f)).as(f)
      case (f, "min") => min(col(f)).as(f)
      case (f, "sum") => sum(col(f)).as(f)
      case (f, "majority") => mode(col(f), deterministic = true).as(f)
      case (f, "latest") => max(stamped(f)).getField("__v").as(f)
      case (f, "earliest") => min(stamped(f)).getField("__v").as(f)
      case (f, rule) => throw new IllegalArgumentException(
        s"unknown survivorship rule '$rule' for field '$f'")
    }
    df.groupBy(col(clusterField))
      .agg(count(lit(1)).as("record_count"), aggs: _*)
  }

  /** Most frequent value of `field` per group, with its count —
    * deterministic: count ties break on the smaller value. NULLs are
    * never the mode (a missing value is not a value). Shape: one
    * (keys, value) hash-agg, then a WindowGroupLimit top-1 over the
    * aggregated frame — the corpus shuffles once, the window only sees
    * |keys × distinct values| rows. */
  def modeAgg(
      keys: Seq[String], field: String)(df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(field).isNotNull)
      .groupBy((keys :+ field).map(col): _*)
      .agg(count(lit(1)).as(s"${field}_mode_count"))
    counts.withColumn("__rk", row_number().over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col(s"${field}_mode_count").desc, col(field).asc)))
      .filter(col("__rk") === 1)
      .drop("__rk")
      .withColumnRenamed(field, s"${field}_mode")
  }

  /** Equal-frequency (quantile) binning per group: assign each row the
    * 1-based bin index of `field` among `bins` same-population buckets
    * of its group — the discretization step feeding stratified
    * sampling, calibration tables, and monotone feature encodings.
    *
    * Bin edges are the group's EXACT interior percentiles
    * (i/bins, one percentile buffer per group — the [[winsorize]]
    * shape); a row's bin is `1 + #cuts strictly below its value`, so
    * values tied with a cutpoint land in the LOWER bin and NULL values
    * keep a NULL bin (the [[threshold]] doctrine). The tiny per-group
    * cutpoint table (groups × (bins−1) doubles) joins back broadcast;
    * the bin projection is one codegen'd array filter — the corpus
    * never sorts globally (no ntile: a global window would
    * single-partition 100 TB; the cutpoint form is the distributed
    * equivalent, exact for the same input). Beyond-memory groups:
    * `approx = true` swaps the exact percentile for the bounded-memory
    * sketch ([[pctlAgg]]) — the plan shape is unchanged but cutpoints
    * (hence bins near them) become approximate. */
  def equalFreqBins(
      keys: Seq[String], field: String, bins: Int,
      target: String = "", approx: Boolean = false,
      accuracy: Int = 10000)(df: DataFrame): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    require(bins >= 2, s"need at least 2 bins, got $bins")
    val out = if (target.isEmpty) s"${field}_bin" else target
    val cuts = (1 until bins).map(_.toDouble / bins)
    val cutTab = df.groupBy(keys.map(col): _*)
      .agg(pctlAgg(col(field), array(cuts.map(lit): _*),
        approx, accuracy).as("__cuts"))
      // pinned: ≤|groups| rows over a full-table exact percentile sort
      // (the robustZScore note — one percentile pass, bit-identical)
      .localCheckpoint()
    df.join(cutTab, keys)
      .withColumn(out,
        when(col(field).isNull, lit(null))
          .otherwise(lit(1L) +
            size(filter(col("__cuts"), c => col(field) > c)).cast("long")))
      .drop("__cuts")
  }

  def percentileAgg(
      keys: Seq[String],
      field: String,
      percentiles: Seq[Double],
      includeCount: Boolean = true)(df: DataFrame): DataFrame =
    // one percentile agg over the percentage ARRAY: the group's values
    // are buffered and sorted once, not once per requested percentile
    percentileWide(keys, field, percentiles, includeCount,
      percentile(col(field), array(percentiles.map(lit): _*)))(df)

  /** Shared wide-to-columns plumbing for the exact and approximate
    * percentile aggregates — only the aggregate expression differs. */
  private def percentileWide(
      keys: Seq[String],
      field: String,
      percentiles: Seq[Double],
      includeCount: Boolean,
      pAgg: Column)(df: DataFrame): DataFrame = {
    val aggs = Seq(pAgg.as("__ps")) ++
      (if (includeCount) Seq(count(lit(1)).as("record_count")) else Nil)
    val wide = df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val outCols = keys.map(col) ++
      percentiles.zipWithIndex.map { case (p, i) =>
        // non-integral percents keep their fraction in the label
        // (p12_5) — rounding would collide 0.125 and 0.13 into one name
        val pct = p * 100
        val label =
          if (pct == math.rint(pct)) math.round(pct).toString
          else pct.toString.replace('.', '_')
        element_at(col("__ps"), i + 1).as(s"${field}_p$label")
      } ++ (if (includeCount) Seq(col("record_count")) else Nil)
    wide.select(outCols: _*)
  }

  /** Sketch-based percentiles for the 100 TB path: `approx_percentile`
    * (t-digest-like GK summaries, bounded memory per group) instead of
    * [[percentileAgg]]'s exact buffered form. `accuracy` trades memory
    * for error (10000 ≈ 0.01% rank error). Approximate results cannot
    * hash-match an oracle; unit-tested against the exact form within
    * tolerance. */
  def percentileApproxAgg(
      keys: Seq[String],
      field: String,
      percentiles: Seq[Double],
      accuracy: Int = 10000,
      includeCount: Boolean = true)(df: DataFrame): DataFrame =
    percentileWide(keys, field, percentiles, includeCount,
      percentile_approx(col(field), array(percentiles.map(lit): _*),
        lit(accuracy)))(df)

  // ------------------------------------------- scalar / transform operators

  /** Explode a date/timestamp field into `<f>_year`, `<f>_month`, `<f>_day`
    * integer columns (reference: `ops/rows.py::split_date`). Parts
    * configurable like the reference. */
  def splitDate(field: String, parts: Seq[String] = Seq("year", "month", "day"))(
      df: DataFrame): DataFrame =
    parts.foldLeft(df) { (d, p) =>
      val e = p match {
        case "year"  => year(col(field))
        case "month" => month(col(field))
        case "day"   => dayofmonth(col(field))
        case other   => throw new IllegalArgumentException(s"unknown date part: $other")
      }
      d.withColumn(s"${field}_$p", e)
    }

  /** Strip leading/trailing whitespace (or given characters) on string
    * fields (reference: `ops/rows.py::string_strip`). */
  def stringStrip(fields: Seq[String], chars: Option[String] = None)(
      df: DataFrame): DataFrame =
    fields.foldLeft(df) { (d, f) =>
      d.withColumn(f, chars match {
        case None     => trim(col(f))
        case Some(cs) => trim(col(f), cs)
      })
    }

  /** Apply an ordered list of regex substitutions to a field (reference:
    * `ops/rows.py::text_substitute`). */
  def textSubstitute(field: String, substitutions: Seq[(String, String)])(
      df: DataFrame): DataFrame =
    df.withColumn(
      field,
      substitutions.foldLeft(col(field)) { case (c, (pat, rep)) =>
        regexp_replace(c, pat, rep)
      })

  /** Empty string -> NULL on the given string fields (reference:
    * `ops/rows.py::empty_to_missing`). */
  def emptyToMissing(fields: Seq[String])(df: DataFrame): DataFrame =
    fields.foldLeft(df) { (d, f) =>
      d.withColumn(f, when(col(f) === "", lit(null)).otherwise(col(f)))
    }

  /** Parse a string field into a date with the given format (reference:
    * string-to-date row transform). Unparseable values yield NULL
    * (try_to_date) rather than failing the job under ANSI mode — the
    * pipeline-friendly choice; pair with [[graft.probes.Probes.audit]] to
    * count the resulting nulls. */
  def stringToDate(field: String, format: String, target: Option[String] = None)(
      df: DataFrame): DataFrame =
    df.withColumn(target.getOrElse(field),
      try_to_timestamp(col(field), lit(format)).cast("date"))

  /** Bin a numeric field against two cut points into "low" / "pass" /
    * "high" (reference: `ops/rows.py::threshold`). Semantics chosen and
    * documented (SURVEY.md §7.4 risk 1): value < low -> "low",
    * value > high -> "high", else "pass"; bounds themselves pass. */
  def threshold(
      field: String,
      low: Double,
      high: Double,
      target: Option[String] = None)(df: DataFrame): DataFrame =
    df.withColumn(
      target.getOrElse(s"${field}_bin"),
      // NULL in -> NULL bin: a missing measurement is not "within
      // bounds" (otherwise() would silently classify it as pass)
      when(col(field) < low, "low")
        .when(col(field) > high, "high")
        .when(col(field).isNotNull, "pass"))

  // ------------------------------------------------------------------ debug

  /** Formatted table to stdout (reference: `ops/rows.py::pretty_print`).
    * Debug sink; truncation-free like the reference. */
  def prettyPrint(n: Int = 20)(df: DataFrame): Unit = df.show(n, truncate = false)
}
