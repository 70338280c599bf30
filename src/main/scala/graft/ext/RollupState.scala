package graft.ext

import org.apache.spark.sql.DataFrame
import graft.sources.DataStore
import graft.ops.Ops

/** Persistent incrementally-maintained rollup — [[IncrementalIndex]]'s
  * sibling for AGGREGATES: the stored object is a mergeable per-group
  * state frame (|groups| rows however much history has flowed through),
  * each batch folds in with one |groups|-sized merge, and the
  * presentation rollup projects out on demand. History is read ONCE —
  * when it was a batch; a 100 TB event archive maintains a KB-scale
  * state table. The five kinds below differ only in the
  * [[graft.ops.Ops]] summarize/merge pair they bind and in their
  * `result` projection; create, load and fold are written here once.
  *
  * The fold pins the merged state (a local checkpoint) BEFORE replacing
  * the stored object — the merge plan reads that object, and a lazy
  * replace would otherwise overwrite its own input mid-read (the same
  * discipline as [[IncrementalIndex.ingest]]).
  *
  * At-least-once caveat: a fold is not keyed by batch, so a batch
  * folded twice (a `foreachBatch` restart re-delivers the last
  * micro-batch) is merged twice. Each kind notes whether that changes
  * its state; where it does, production restarts need an idempotence
  * key (batchId recorded with the state) or an upstream exactly-once
  * source. */
sealed trait MergeableState {
  def store: DataStore
  def name: String

  /** The state frame of one batch. */
  protected def summarize(df: DataFrame): DataFrame

  /** Two state frames of this kind merged into one. */
  protected def merge(stored: DataFrame, batch: DataFrame): DataFrame

  /** Initialize (or replace) the state from a first batch. */
  def create(df: DataFrame, replace: Boolean = false): Unit =
    store.create(name, summarize(df), replace)

  /** The stored state frame. */
  def load(): DataFrame = store.getObject(name)

  /** Fold one batch into the stored state: summarize the BATCH (its
    * only scan), merge with the |groups|-row stored frame, pin, replace. */
  def fold(batch: DataFrame): Unit = {
    val merged = merge(load(), summarize(batch)).localCheckpoint()
    store.create(name, merged, replace = true)
  }
}

/** Additive measures: the stored object is an
  * [[graft.ops.Ops.aggregateState]] frame (per-group sufficient
  * statistics). A replayed batch double-counts.
  *
  * `count_distinct` has no bounded exact state; keep a sibling
  * [[RollupStateHll]] under its own object name when estimated
  * distincts are wanted. */
final case class RollupState(
    store: DataStore, name: String,
    keys: Seq[String], measures: Seq[(String, String)])
    extends MergeableState {

  protected def summarize(df: DataFrame): DataFrame =
    Ops.aggregateState(keys, measures)(df)

  protected def merge(stored: DataFrame, batch: DataFrame): DataFrame =
    Ops.mergeAggregateStates(keys, measures)(stored, batch)

  /** The presentation rollup — [[graft.ops.Ops.aggregate]]'s schema —
    * from the current state. */
  def result(): DataFrame = Ops.finalizeAggregate(keys, measures)(load())
}

/** DISTINCT counts: the stored object is an
  * [[graft.ops.Ops.aggregateStateHll]] frame (one ~1.5 KB DataSketches
  * HLL sketch per (group, field) FOREVER), batches fold in with a
  * register-wise union. Keep it under its own object name next to the
  * exact measure state — the two compose into one dashboard query with
  * a keys join. A replayed batch changes nothing (a max of maxes). */
final case class RollupStateHll(
    store: DataStore, name: String,
    keys: Seq[String], fields: Seq[String], lgK: Int = 12)
    extends MergeableState {

  protected def summarize(df: DataFrame): DataFrame =
    Ops.aggregateStateHll(keys, fields, lgK)(df)

  protected def merge(stored: DataFrame, batch: DataFrame): DataFrame =
    Ops.mergeAggregateStatesHll(keys, fields)(stored, batch)

  /** `(keys…, <field>_distinct_est…)` from the current sketches. */
  def result(): DataFrame = Ops.finalizeAggregateHll(keys, fields)(load())
}

/** The SET-ALGEBRA leg of persistent distinct state: the stored object
  * is an [[graft.ops.Ops.aggregateStateTheta]] frame (one compact theta
  * sketch per (group, field)), batches fold in with a sketch union, and
  * the persisted sketches answer intersection/difference questions
  * across groups or across separately-maintained states
  * ([[graft.functions.GraftFunctions.thetaIntersect]] / `thetaDiff`) —
  * the overlap/churn queries HLL state cannot. Exact and deterministic
  * while each group stays under `nominalEntries` distincts. A replayed
  * batch changes nothing (a set union of hash sets). */
final case class RollupStateTheta(
    store: DataStore, name: String,
    keys: Seq[String], fields: Seq[String], nominalEntries: Int = 4096)
    extends MergeableState {

  protected def summarize(df: DataFrame): DataFrame =
    Ops.aggregateStateTheta(keys, fields, nominalEntries)(df)

  protected def merge(stored: DataFrame, batch: DataFrame): DataFrame =
    Ops.mergeAggregateStatesTheta(keys, fields, nominalEntries)(stored, batch)

  /** `(keys…, <field>_distinct_est…)` from the current sketches. */
  def result(): DataFrame = Ops.finalizeAggregateTheta(keys, fields)(load())
}

/** The QUANTILE leg of persistent rollup state: the stored object is an
  * [[graft.ops.Ops.aggregateStateKll]] frame (one ~2.4 KB DataSketches
  * KLL sketch per (group, field) at the default k = 200), batches fold
  * in with a sketch merge, and [[result]] projects the requested ranks.
  * Exact order statistics while a group has seen ≤ k values (the
  * oracle's regime); the ~1.65% rank-error band — and, unlike HLL,
  * NON-rerun-identical estimates from the compactor's random coin —
  * beyond. A replayed batch double-counts its values' ranks. */
final case class RollupStateKll(
    store: DataStore, name: String,
    keys: Seq[String], fields: Seq[String], k: Int = 200)
    extends MergeableState {

  protected def summarize(df: DataFrame): DataFrame =
    Ops.aggregateStateKll(keys, fields, k)(df)

  protected def merge(stored: DataFrame, batch: DataFrame): DataFrame =
    Ops.mergeAggregateStatesKll(keys, fields, k)(stored, batch)

  /** `(keys…, <field>_p<rank>…)` from the current sketches. */
  def result(ranks: Seq[Double]): DataFrame =
    Ops.finalizeAggregateKll(keys, fields, ranks)(load())
}

/** The POINT-FREQUENCY leg of persistent rollup state: the stored
  * object is an [[graft.ops.Ops.aggregateStateCms]] frame (one
  * depth·width·8-byte count–min sketch per (group, field) FOREVER),
  * batches fold in with element-wise counter addition, and
  * [[result]] probes the current state for any key list — "how often
  * has THIS value occurred across all history" without re-reading
  * history or knowing the key at build time. Estimates never
  * undercount; exact and deterministic in the collision-free regime
  * (the oracle's — see [[graft.functions.CmsAgg]]). A replayed batch
  * double-counts (counters add). */
final case class RollupStateCms(
    store: DataStore, name: String,
    keys: Seq[String], fields: Seq[String],
    depth: Int = 5, width: Int = 4096, seed: Int = 1)
    extends MergeableState {

  protected def summarize(df: DataFrame): DataFrame =
    Ops.aggregateStateCms(keys, fields, depth, width, seed)(df)

  protected def merge(stored: DataFrame, batch: DataFrame): DataFrame =
    Ops.mergeAggregateStatesCms(keys, fields, depth, width, seed)(stored, batch)

  /** `(keys…, item, <field>_freq_est)` for a static probe list. */
  def result(field: String, items: Seq[String]): DataFrame =
    Ops.finalizeAggregateCms(keys, field, items)(load())
}
