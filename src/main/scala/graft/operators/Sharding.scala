package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic corpus shuffle + shard assignment — the "global shuffle"
  * step of training-data prep: every document gets a stable shard and a
  * stable position within its shard, as a pure function of (doc_id,
  * epoch). No RNG: re-running at any parallelism, engine, or corpus
  * ordering yields byte-identical shards, and bumping `epoch` re-shuffles
  * reproducibly for the next training pass (the public recipe behind
  * deterministic data-loader orders).
  *
  * Multipliers are the repo's 4th and 5th decorrelated Carter–Wegman
  * constants (xxHash PRIME32_4/PRIME32_5), distinct from the split
  * (2654435761), sampling (2246822519), and mix-bucket (3266489917)
  * multipliers: a shared multiplier would make shard membership determine
  * split/sample membership (see the [[TextAnalytics.stratifiedSample]]
  * note). Both apply AFTER the repo-wide 31-bit id fold (ANSI overflow
  * rule).
  *
  * Scale shape: shard assignment and order keys are scan-side column
  * algebra. The per-shard POSITION is the deliberately hard part — a
  * rank over ~10¹¹/nShards rows cannot be one window partition — so
  * [[shardInterleave]] reuses the two-phase distributed prefix-sum
  * discipline proven in [[Packing]]: order keys range-bucket by their
  * top bits (order-preserving), per-(shard, sub-bucket) counts make a
  * tiny offsets frame (nShards·2^subBits rows — driver-tiny at any
  * corpus size), and a window partitioned by (shard, sub-bucket) ranks
  * locally; position = bucket offset + local rank. The oracle is the
  * NAIVE single-window rank, so the green hash IS the proof that the
  * decomposition equals the sequential definition. Write path: feed
  * [[shardDocs]] to `Sinks.writePartitionedSorted(..., "shard",
  * sortCols = order_key)` — one file tree per shard, rows in epoch
  * order, no extra shuffle beyond the write partitioning.
  */
object Sharding {

  val DefaultNShards = 8
  /** Sub-buckets per shard = 2^subBits; 31 − subBits is the shift that
    * extracts a key's range bucket. 16 sub-buckets × 8 shards = 128
    * offset rows at the default knobs.
    */
  val DefaultSubBits = 4
  val ShardMultiplier = 668265263L // xxHash PRIME32_4
  val OrderMultiplier = 374761393L // xxHash PRIME32_5

  private def fold(id: Column): Column = pmod(id, lit(2147483648L))

  /** Stable shard of a document id — multiply-shift, NOT multiply-mod.
    * `pmod(fold(id)·M, nShards)` would collapse to a function of
    * `id mod nShards` alone ((id·M) mod n = ((id mod n)·M) mod n), so any
    * stride/modulus-structured id set (e.g. the repo's own
    * modulus-selected subsets) would land on few shards. Mixing first —
    * multiply in the 31-bit fold space, keep the 31 low bits (a bijection
    * for odd M), THEN range-partition by the well-mixed HIGH bits via
    * `floor(mix·nShards / 2³¹)` — makes every residue class spread across
    * all shards. Same multiply-shift family as [[shardInterleave]]'s
    * sub-bucket step.
    */
  private[graft] def shardExpr(id: Column, nShards: Int): Column =
    shiftright(
      pmod(fold(id) * lit(ShardMultiplier), lit(2147483648L)) * lit(nShards.toLong),
      31)

  /** Epoch-dependent shuffle order key in [0, 2³¹): the fold keeps
    * (id + epoch) in multiplication-safe range; a new epoch is a fresh
    * deterministic permutation.
    */
  private[graft] def orderKeyExpr(id: Column, epoch: Long): Column =
    pmod(fold(fold(id) + lit(epoch)) * lit(OrderMultiplier), lit(2147483648L))

  /** Per-document shard + order key (+ lang and token count for the
    * rollup) — the frame a sharded writer persists.
    */
  def shardDocs(spark: SparkSession, dir: String,
      nShards: Int = DefaultNShards, epoch: Long = 0L): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        // NULL text counts 0 tokens: size(null) is -1 in Spark while the
        // oracle's sum skips NULLs — the same cross-engine corner as
        // Dsir.duckBucket's empty-string guard
        when(col("text").isNotNull, size(split(col("text"), " ")))
          .otherwise(0).cast("long").as("n_tokens"),
        shardExpr(col("doc_id"), nShards).as("shard"),
        orderKeyExpr(col("doc_id"), epoch).as("order_key"))

  /** Shard balance rollup: (shard, n_docs, n_tokens, n_langs). The
    * go/no-go check before a training run — a skewed shard here means a
    * straggling data-loader rank later.
    */
  def shardStats(spark: SparkSession, dir: String,
      nShards: Int = DefaultNShards): DataFrame =
    shardDocs(spark, dir, nShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("shard")

  /** Per-document (doc_id, shard, pos): pos is the document's 1-based
    * rank within its shard under the epoch order (order_key, doc_id) —
    * computed distributed (see object scaladoc), defined (and oracle-
    * checked) as the naive per-shard window rank.
    */
  def shardInterleave(spark: SparkSession, dir: String,
      nShards: Int = DefaultNShards, subBits: Int = DefaultSubBits,
      epoch: Long = 0L): DataFrame = {
    val docs = shardDocs(spark, dir, nShards, epoch)
      // range bucket = top subBits bits of the order key: monotone in
      // order_key, so (shard, sub, order_key, doc_id) order == the
      // (shard, order_key, doc_id) order the oracle ranks by
      .withColumn("sub", shiftright(col("order_key"), 31 - subBits))

    // phase 1: tiny per-(shard, sub) totals → exclusive prefix offsets.
    // nShards · 2^subBits rows: the window over it is driver-tiny.
    val wOff = Window.partitionBy("shard").orderBy("sub")
    val offsets = docs.groupBy("shard", "sub").agg(count(lit(1)).as("cnt"))
      .withColumn("offset", sum(col("cnt")).over(wOff) - col("cnt"))
      .drop("cnt")

    // phase 2: local rank inside each (shard, sub) partition — bounded
    // partitions at any SF by the knobs — plus the broadcast offset.
    val wLocal = Window.partitionBy("shard", "sub")
      .orderBy(col("order_key").asc, col("doc_id").asc)
    docs
      .withColumn("rn", row_number().over(wLocal))
      .join(broadcast(offsets), Seq("shard", "sub"))
      .select(col("doc_id"), col("shard"),
        (col("offset") + col("rn")).cast("long").as("pos"))
      .orderBy("doc_id")
  }

  /** DuckDB twins of the shard / order-key expressions (epoch 0, the
    * registered form), built from the SAME constants.
    */
  private def duckShard(nShards: Int): String =
    s"((${TextAnalytics.duckIdFold} * $ShardMultiplier) % 2147483648 * $nShards) // 2147483648"
  private def duckOrderKey: String =
    s"(${TextAnalytics.duckIdFold} * $OrderMultiplier) % 2147483648"

  val oracles: Map[String, String] = Map(
    "q_shard_stats" ->
      s"""SELECT ${duckShard(DefaultNShards)} AS shard,
         |       count(*) AS n_docs,
         |       CAST(sum(coalesce(len(string_split(text, ' ')), 0)) AS BIGINT) AS n_tokens,
         |       count(DISTINCT lang) AS n_langs
         |FROM documents GROUP BY shard ORDER BY shard""".stripMargin,
    // the NAIVE global per-shard rank — hash-green against the two-phase
    // distributed form is the decomposition proof (Packing discipline)
    "q_shard_interleave" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         ${duckShard(DefaultNShards)} AS shard,
         |         $duckOrderKey AS order_key
         |  FROM documents)
         |SELECT doc_id, shard,
         |       CAST(row_number() OVER (
         |         PARTITION BY shard ORDER BY order_key, doc_id) AS BIGINT)
         |         AS pos
         |FROM d ORDER BY doc_id""".stripMargin
  )
}
