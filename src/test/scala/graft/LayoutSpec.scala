package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Layout, TextAnalysis}
import graft.sources.Tables

/** Z-order layout (X35) and multi-epoch reshuffle (X34c/X34d):
  * bit-exact Morton keys, epoch partition/mixing invariants, the
  * skip-audit contrast the layout exists to produce, and a PHYSICAL
  * check that [[Layout.writeZordered]]'s parquet files really carry
  * tighter per-file ranges than a single-column-sorted write.
  */
class LayoutSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import SparkTestBase.sf

  private def docs = Tables.read(spark, sf, "documents")

  test("zorderKey interleaves bits exactly (spot values)") {
    val rows = spark.range(1).select(
      Layout.zorderKey(lit(0L), lit(0L)).as("z00"),
      Layout.zorderKey(lit(255L), lit(0L)).as("za0"),
      Layout.zorderKey(lit(0L), lit(255L)).as("z0b"),
      Layout.zorderKey(lit(255L), lit(255L)).as("zab"),
      Layout.zorderKey(lit(1L), lit(0L)).as("z10"),
      Layout.zorderKey(lit(0L), lit(1L)).as("z01"),
      Layout.zorderKey(lit(3L), lit(5L)).as("z35")).head()
    assert(rows.getLong(0) == 0L)
    assert(rows.getLong(1) == 0x5555L) // a-bits on even positions
    assert(rows.getLong(2) == 0xAAAAL) // b-bits on odd positions
    assert(rows.getLong(3) == 0xFFFFL)
    assert(rows.getLong(4) == 1L)
    assert(rows.getLong(5) == 2L)
    // spread(3)=0b101, spread(5)=0b10001 shifted → 0b100010 = 34
    assert(rows.getLong(6) == (5L | 34L))
  }

  test("epochShards: every epoch is a complete partition of the corpus") {
    val es = TextAnalysis.epochShards(docs, 64L, 3).persist()
    try {
      val nDocs = docs.count()
      val totTokens = docs
        .agg(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
      val perEpoch = es.groupBy("epoch")
        .agg(count(lit(1)).as("n"), sum("n_tokens").as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(perEpoch.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L))
      assert(perEpoch.forall { case (_, n, t) => n == nDocs && t == totTokens })
      // shards are contiguous 0..max per epoch and every shard but the
      // last holds > shardTokens - maxDoc tokens (the start-position
      // cut rule): spot the structural bound instead of re-deriving
      val byShard = es.groupBy("epoch", "shard").agg(sum("n_tokens").as("t"))
        .collect()
      val maxDoc = es.agg(max("n_tokens")).head().getLong(0)
      assert(byShard.forall(_.getLong(2) <= 64L + maxDoc))
    } finally es.unpersist()
  }

  test("epochShards: different epochs really are different permutations") {
    val es = TextAnalysis.epochShards(docs, 64L, 2)
    val moved = es.groupBy("doc_id")
      .agg(max(when(col("epoch") === 0L, col("shard"))).as("s0"),
        max(when(col("epoch") === 1L, col("shard"))).as("s1"))
      .filter(col("s0") =!= col("s1")).count()
    assert(moved > 0L, "epoch salt failed to re-permute any document")
  }

  test("epochMixingAudit: totals close and shards actually scatter") {
    val audit = TextAnalysis.epochMixingAudit(docs, 64L).collect()
    assert(audit.map(_.getLong(1)).sum == docs.count())
    audit.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1)) // max_overlap <= n_docs
      assert(r.getLong(2) >= 1L)
    }
    // at least one multi-doc shard scatters across >1 successor
    assert(audit.exists(r => r.getLong(1) > 1 && r.getLong(2) > 1),
      "no shard scattered — the per-epoch salt is not mixing")
  }

  test("x168/x169 plans: only the allowed scalar-seed / metadata NLJs") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // every physical node of the plan as if nothing were cached: a
    // cached scan contributes its cached plan's nodes, once per use,
    // which is what the inline subtree would contribute — so the count
    // is the same whichever frames earlier tests left registered in the
    // session's CacheManager
    def inlined(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }.flatMap {
      case s: InMemoryTableScanExec => s +: inlined(s.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => a +: inlined(a.inputPlan)
      case n => Seq(n)
    }
    // scoped: x169's plan construction registers its shared-frame
    // persists — release the storage like every other caller (the
    // CacheScope release contract)
    graft.operators.CacheScope.scoped(spark) {
      def nlj(q: String): Int = {
        val p = inlined(SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan)
        assert(!p.exists(_.isInstanceOf[CartesianProductExec]))
        p.count(_.isInstanceOf[BroadcastNestedLoopJoinExec])
      }
      // x168: exactly the one 1-row extremes broadcast
      assert(nlj("x168_zorder_layout") == 1)
      // x169: the shared binned frame's extremes broadcast under each
      // of its three uses (the probe side, and inside the persisted
      // file stats on both the range-join and file-count sides) + the
      // bounded probe×file-stats range join — never a corpus-sized NLJ
      assert(nlj("x169_zorder_skip") == 4)
    }
  }

  test("layoutFileStats: both layouts partition the corpus into bounded files") {
    val st = Layout.layoutFileStats(docs, 16).collect()
    val n = docs.count()
    Seq("zorder", "linear").foreach { l =>
      val rows = st.filter(_.getString(0) == l)
      assert(rows.map(_.getLong(2)).sum == n, s"$l loses rows")
      assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 16))
      assert(rows.forall(r => (3 to 6).forall(i =>
        r.getLong(i) >= 0 && r.getLong(i) <= 255)))
    }
  }

  test("layoutSkipAudit: linear prunes one dim, zorder bounds both") {
    // scoped: the audit persists its shared binned frame (the
    // CacheScope release contract) — leaked blocks would both
    // accumulate and cache-substitute into later tests' plans
    val a = graft.operators.CacheScope.scoped(spark) {
      Layout.layoutSkipAudit(docs, 16).collect()
    }.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(a.size == 4)
    // linear resolves its own sort column to exactly one file...
    assert(a(("linear", "doc_id")).getDouble(4) == 1.0)
    // ...and is near-useless on the other dimension,
    val linC = a(("linear", "n_chars")).getDouble(6)
    // while zorder reads a small fraction on BOTH dimensions
    val zD = a(("zorder", "doc_id")).getDouble(6)
    val zC = a(("zorder", "n_chars")).getDouble(6)
    assert(zC < linC, s"zorder n_chars frac $zC !< linear $linC")
    assert(zD < linC && zC < 0.8 && zD < 0.8,
      s"zorder fracs not sublinear: d=$zD c=$zC vs linear c=$linC")
  }

  test("CacheScope.scoped frees operator persists (the release contract)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.operators.CacheScope.scoped(spark) {
      // two persisting operators from different families, consumed
      // inside the scope (the contract's requirement)
      Layout.layoutSkipAudit(docs, 16).count()
      graft.operators.Dedup
        .lshCandidatePairs(Tables.read(spark, sf, "documents")).count()
      assert(spark.sparkContext.getPersistentRDDs.keySet
        .diff(before).nonEmpty, "operators stopped persisting — the " +
        "scope has nothing to test")
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"scoped persists leaked blocks: $leaked")
  }

  test("writeZordered: physical parquet files carry tighter two-dim ranges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    try {
      val zStats = Layout.writeZordered(docs, s"$dir/z", 8).collect()
      // the linear baseline: same file count, ranged on doc_id alone
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(s"$dir/l")
      val lStats = spark.read.parquet(s"$dir/l")
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .collect()
      assert(zStats.map(_.getLong(1)).sum == lStats.map(_.getLong(1)).sum)
      def avgCharsRange(rows: Array[org.apache.spark.sql.Row]): Double =
        rows.map(r => (r.getLong(5) - r.getLong(4)).toDouble).sum / rows.length
      val zr = avgCharsRange(zStats)
      val lr = avgCharsRange(lStats)
      // the whole point: a reader filtering on n_chars skips z-ordered
      // files, while every doc_id-sorted file spans ~the full range
      assert(zr < lr, s"zorder avg n_chars file range $zr !< linear $lr")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("zorder maintenance: appends degrade the measured cost, compaction restores it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zmaint").toString
    val tree = s"$dir/t"
    try {
      // base = even ids, appends = odd ids: same value ranges (the
      // frozen params cover the appends), arrival order = id order —
      // a maximally key-spread append file
      val base = docs.filter(col("doc_id") % 2 === 0)
      val extra = docs.filter(col("doc_id") % 2 === 1)
      Layout.writeZordered(base, tree, 8)
      val avg0 = Layout.zorderSkipCost(spark, tree)
        .head().getAs[Double]("avg_files_read")
      Layout.appendZordered(extra, tree)
      val avg1 = Layout.zorderSkipCost(spark, tree)
        .head().getAs[Double]("avg_files_read")
      assert(avg1 > avg0,
        s"an arrival-order append must raise the measured cost: $avg0 -> $avg1")
      // below the bound: a no-op that still reports the measurement
      val (did0, b0, a0) =
        Layout.compactZordered(spark, tree, 8, maxAvgFilesRead = avg1 + 1)
      assert(!did0 && b0 == avg1 && a0 == avg1)
      val idsBefore = spark.read.parquet(tree)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      // above the bound: recluster under the SAME frozen params
      val (did, before, after) =
        Layout.compactZordered(spark, tree, 8, maxAvgFilesRead = 1.2)
      assert(did && before == avg1 && after < before,
        s"compaction must lower the measured cost: $before -> $after")
      val idsAfter = spark.read.parquet(tree)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(idsAfter == idsBefore, "compaction changed the content")
      // params survived the rewrite: appends still work afterwards
      Layout.appendZordered(extra.limit(1), tree)
      assert(spark.read.parquet(tree).count() == idsBefore.length + 1)
      // a non-tree path fails loudly, not by silent re-derivation
      val e = intercept[IllegalArgumentException] {
        Layout.appendZordered(extra, s"$dir/not_a_tree")
      }
      assert(e.getMessage.contains("_layout"))
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

}
