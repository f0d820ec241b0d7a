package graft.operators

import org.apache.spark.sql.SparkSession

/** Cache lifecycle for the persisting operators.
  *
  * Several public operators persist an intermediate the plan consumes
  * more than once ([[Dedup.prefixPostings]]' shingle/prefix tables,
  * [[Dedup.lshCandidatePairs]]' band table, the `TextAnalysis` gram
  * tables, [[Layout.layoutSkipAudit]]'s binned frame, …) because the
  * consuming sides differ in projection, so Spark's exchange reuse can
  * never canonicalize them equal and the whole upstream corpus pass
  * would otherwise run once PER side. Those persists cannot be
  * released inside the operator: the returned DataFrame is lazy and
  * still references them.
  *
  * RELEASE CONTRACT: whoever triggers the returned frame's action owns
  * the release. The repo's mains (Bench, Verify, Explain, the spec
  * suites' harness) snapshot `getPersistentRDDs` before each query and
  * call `SparkEntry.releaseNewlyPersisted` after consuming its result.
  * Any other caller — including one invoking these operators
  * repeatedly, e.g. a per-ingest-batch [[Dedup.crossCorpusPairs]] —
  * should wrap CONSUMPTION (not just construction: the blocks
  * materialize on first action) in [[scoped]], or blocks accumulate in
  * the block manager for the session lifetime.
  *
  * Unpersisting is always safe for correctness: `persist` is purely an
  * execution hint, so a frame consumed after its scope closed simply
  * recomputes.
  */
object CacheScope {

  /** Run `body` and unpersist every RDD persisted during it (the
    * drivers' snapshot-release discipline, packaged for external
    * callers). `body` must CONSUME the operator results it builds —
    * a lazy frame returned out of the scope recomputes its persisted
    * subtrees from scratch when finally executed.
    *
    * Scope of the release: STORAGE. The RDD-level unpersist frees the
    * block-manager memory/disk (the accumulation hazard), but the
    * session's CacheManager keeps the logical-plan registration — a
    * later query building the same subtree is substituted with the
    * cached relation and re-materializes it on its next action
    * (correctness-neutral; plan-SHAPE assertions should count nodes
    * through the cached plans, as LayoutSpec's x168/x169 test does).
    */
  def scoped[A](s: SparkSession)(body: => A): A = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      val now = s.sparkContext.getPersistentRDDs
      (now.keySet -- before).foreach(
        id => now.get(id).foreach(_.unpersist(blocking = false)))
    }
  }
}
