package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.etl.Warehouse

/** One persisted index family at fixed dials — the value the
  * cluster-state and curation lifecycles drive
  * ([[graft.pipelines.ClusterState]],
  * [[graft.pipelines.IncrementalCuration.EmbeddingSignal]]) instead of
  * spelling out one seed/ingest/reconcile per family. [[PersistedIndex]]
  * is the persistence half the three families share; this is the
  * lifecycle half: code a slice, pair a whole slice with itself (what a
  * full recluster computes), seed or stamp-ensure the index over a
  * slice, probe it with an already-coded batch, append that batch.
  *
  * A slice carries `<key>_id`; pairs name their endpoints `<key>_a` and
  * `<key>_b` (`doc` for texts, `vec` for vectors).
  */
trait PairFamily {

  def key: String

  /** Every dial that changes the stored rows or the pair set, as a
    * stamp token — a seed stamped under other dials must rebuild.
    */
  def dials: String

  /** The slice's coded rows — what the index stores, and what a batch
    * computes for itself (shared by probe and append).
    */
  def codedOf(slice: DataFrame): DataFrame

  /** Whole-slice self pairs at this family's dials. */
  def selfPairs(slice: DataFrame): DataFrame

  /** Full (re)build of the index over the slice. */
  def seed(wh: Warehouse, slice: DataFrame): Unit

  /** [[seed]] under the [[StampedTable]] protocol; the family adds its own
    * layout dials to the caller's content stamp.
    */
  def ensure(wh: Warehouse, slice: => DataFrame, stamp: String): Unit

  /** Index-probed (settled, batch) ∪ (batch, batch) pairs of a coded
    * batch — replay-exact, cap on the union's occupancy.
    */
  def incrementPairs(wh: Warehouse, coded: DataFrame): DataFrame

  /** Grow the index by a coded batch, idempotent under replay. */
  def append(wh: Warehouse, coded: DataFrame): Unit

  final def idCol: String = s"${key}_id"

  /** The slice's ids as cluster-state nodes (`doc_id`). */
  final def nodesOf(slice: DataFrame): DataFrame = slice.select(col(idCol).as("doc_id"))

  /** Pairs as cluster-state edges (`doc_a`, `doc_b`). */
  final def edgesOf(pairs: DataFrame): DataFrame =
    pairs.select(col(s"${key}_a").as("doc_a"), col(s"${key}_b").as("doc_b"))
}
