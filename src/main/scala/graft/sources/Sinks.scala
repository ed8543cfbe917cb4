package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Upsert sinks (SURVEY §2.1 S5–S8, S10, S15; §2.8 T4/T7).
  *
  * The reference's exactly-once-ish story is at-least-once delivery +
  * idempotent PK upserts (`page_views_postgres_sink.sql:47`, README.md:43-47).
  * Spark has no native streaming JDBC/Redis sink, so both are
  * `foreachBatch` code — sink I/O runs partition-parallel
  * on executors (unlike the reference's single-threaded driver loop in
  * `flink-jobs/redis_sink.py:131-140`, a weakness SURVEY §3 E2 calls out).
  * The JDBC upsert is the dialect-portable UPDATE-then-INSERT pair
  * ([[jdbcUpsertBatchPortable]]), which runs on Postgres as well as on
  * the embedded Derby every live spec connects to.
  */
object Sinks {

  /** Dialect-portable two-statement upsert (UPDATE, then INSERT if no row
    * matched) — the classic upsert for dialects without `INSERT … ON
    * CONFLICT` (Postgres-only syntax; Derby/older engines need MERGE or
    * this pair). Idempotent under the single-writer-per-key partitioning
    * Spark gives us (each PK lands in one task); concurrent writers on the
    * SAME key would need a native atomic form (`ON CONFLICT`/MERGE).
    * Requires at least one non-PK column (an all-PK table has nothing to
    * UPDATE).
    *
    * Returns (updateSql, insertSql); bind order: UPDATE takes non-PK
    * values then PK values, INSERT takes all columns in order.
    */
  def updateInsertSql(table: String, columns: Seq[String], pk: Seq[String]): (String, String) = {
    val nonPk = columns.filterNot(pk.contains)
    require(nonPk.nonEmpty, s"portable upsert on $table needs a non-PK column")
    val update = s"UPDATE $table SET ${nonPk.map(c => s"$c = ?").mkString(", ")} " +
      s"WHERE ${pk.map(c => s"$c = ?").mkString(" AND ")}"
    val insert = s"INSERT INTO $table (${columns.mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")})"
    (update, insert)
  }

  /** Rows per batched UPDATE (and INSERT) round trip of the upsert. */
  private val UpsertBatchRows = 1000

  /** S10: batch PK-upsert over any JDBC backend via [[updateInsertSql]]
    * (`feature_batch_update.py:116-139` PK-upserts features_20m),
    * exercised end-to-end against embedded Derby in PipelineSpec (real
    * driver, real bindings, real PK semantics).
    *
    * Rows are repartitioned on the PK first: the UPDATE-then-INSERT pair
    * is only race-free when every occurrence of a key runs in ONE task —
    * two tasks holding the same absent key would both see updateCount 0
    * and both INSERT. (A native ON CONFLICT statement has no such race;
    * this is the price of portability.) Round trips are batched: a chunk of
    * UPDATEs goes out via executeBatch, and only the rows whose update
    * count came back 0 pay a second (batched) INSERT round trip.
    */
  def jdbcUpsertBatchPortable(df: DataFrame, url: String, table: String,
      pk: Seq[String]): Unit = {
    val columns = df.columns.toSeq
    val nonPk = columns.filterNot(pk.contains)
    val (updateSql, insertSql) = updateInsertSql(table, columns, pk)
    val nonPkIdx = nonPk.map(columns.indexOf)
    val pkIdx = pk.map(columns.indexOf)
    df.repartition(pk.map(col): _*).foreachPartition { rows: Iterator[Row] =>
      // post-shuffle partitions can be empty (shuffle.partitions > distinct
      // keys); don't open a connection+transaction for nothing — streaming
      // callers pay this per micro-batch
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val up = conn.prepareStatement(updateSql)
          val ins = conn.prepareStatement(insertSql)
          def bindUpdate(r: Row): Unit = {
            var i = 0
            (nonPkIdx ++ pkIdx).foreach { c => up.setObject(i + 1, r.get(c)); i += 1 }
          }
          rows.grouped(UpsertBatchRows).foreach { chunk =>
            // duplicate keys inside one chunk collapse last-wins (the same
            // outcome sequential upserts produce); without this, two absent
            // rows with the same key would both batch an INSERT
            val byKey = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Row]
            chunk.foreach { r => byKey(pkIdx.map(r.get)) = r }
            val distinctRows = byKey.values.toSeq
            distinctRows.foreach { r => bindUpdate(r); up.addBatch() }
            val updated = up.executeBatch()
            // Some drivers report SUCCESS_NO_INFO (-2) for batch elements
            // (Oracle; MySQL/pg with statement rewriting): the per-row
            // update counts are unknown, so deciding INSERTs from them
            // would silently drop absent keys. Fall back to re-running the
            // chunk's updates one-by-one — idempotent (same SET values),
            // and executeUpdate always returns a real count.
            val counts =
              if (updated.exists(_ == java.sql.Statement.SUCCESS_NO_INFO))
                distinctRows.map { r => bindUpdate(r); up.executeUpdate() }
              else updated.toSeq
            val toInsert = distinctRows.iterator.zip(counts.iterator)
              .collect { case (r, 0) => r }.toSeq
            toInsert.foreach { r =>
              var j = 0
              while (j < columns.size) { ins.setObject(j + 1, r.get(j)); j += 1 }
              ins.addBatch()
            }
            if (toInsert.nonEmpty) ins.executeBatch()
          }
          conn.commit()
          up.close(); ins.close()
        } finally conn.close()
      }
    }
  }

  /** S5: streaming twin of [[jdbcUpsertBatchPortable]] — every
    * micro-batch is PK-upserted through the dialect-portable writer: the
    * reference's at-least-once delivery + idempotent PK upsert
    * (`events_postgres_sink.sql:37-57`); proven live against embedded
    * Derby (redelivery included) in PipelineSpec.
    */
  def jdbcUpsertStreamPortable(
      decoded: DataFrame,
      url: String,
      table: String,
      pk: Seq[String],
      checkpointDir: String): DataStreamWriter[Row] =
    decoded.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        jdbcUpsertBatchPortable(batch, url, table, pk)
      }

  /** S9: bounded JDBC source (`feature_batch_update.py:35-82` reads whole
    * Postgres tables as batch input). Partitioned read on a numeric column
    * so the scan parallelizes across executors.
    */
  def jdbcTable(spark: org.apache.spark.sql.SparkSession, url: String, table: String,
      partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    partitionColumn.fold(base) { case (c, lo, hi, n) =>
      base.option("partitionColumn", c).option("lowerBound", lo.toString)
        .option("upperBound", hi.toString).option("numPartitions", n.toString)
    }.load()
  }

  /** Key-value hash sink abstraction — the Redis `HSET` contract
    * (`redis_sink copy.sql:45-59`): row = (key string, field→value map).
    * Implementations: real Redis client in production, [[InMemoryKV]] in
    * tests. Written partition-parallel by
    * [[graft.streaming.StreamingFeatures.featurePipeline]] (S7), unlike the
    * reference's driver-side collect loop (S8).
    */
  trait KVStore extends Serializable {
    def hset(key: String, hash: Map[String, String]): Unit
  }

  /** Process-local KV store standing in for Redis in tests; keyed writes
    * are idempotent upserts like HSET.
    */
  object InMemoryKV extends KVStore {
    import scala.collection.concurrent.TrieMap
    val data: TrieMap[String, Map[String, String]] = TrieMap.empty
    override def hset(key: String, hash: Map[String, String]): Unit =
      data.updateWith(key) {
        case Some(old) => Some(old ++ hash)
        case None => Some(hash)
      }
    def clear(): Unit = data.clear()
  }

  /** File-based PK upsert (T4/T7 upsert semantics without a database):
    * merge a batch into a parquet "table", new rows winning on PK
    * conflicts — the `INSERT … ON CONFLICT DO UPDATE` contract
    * (`page_views_postgres_sink.sql:47`) over files. Used from
    * `foreachBatch` in tests and as the local stand-in for the JDBC sink;
    * on a real deployment this is a Delta/Iceberg MERGE — the tmp-dir swap
    * here is the POSIX-rename equivalent.
    */
  def parquetUpsert(batch: DataFrame, path: String, pk: Seq[String]): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    val target = new java.io.File(path)
    val merged =
      if (!target.exists()) batch
      else {
        val existing = spark.read.parquet(path)
        batch.withColumn("__prio", lit(1))
          .unionByName(existing.withColumn("__prio", lit(0)))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(pk.map(col): _*)
              .orderBy(col("__prio").desc)))
          .filter(col("__rn") === 1)
          .drop("__prio", "__rn")
      }
    val tmp = path + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    // checked swap: a silent renameTo failure would strand the merged
    // batch in .tmp while readers keep seeing stale rows
    val old = new java.io.File(path + ".old")
    FileUtils.deleteRecursively(old) // clear leftovers of a crashed swap
    if (target.exists() && !target.renameTo(old))
      throw new java.io.IOException(s"upsert swap: cannot move $target aside")
    if (!new java.io.File(tmp).renameTo(target)) {
      old.renameTo(target) // best-effort restore of the previous table
      throw new java.io.IOException(s"upsert swap: cannot move $tmp into place")
    }
    FileUtils.deleteRecursively(old)
  }

  /** Partitioned, time-sorted parquet layout writer (S15,
    * `notebooks/preprocess.ipynb` cell 11): Hive-style partition dirs,
    * rows sorted by event time within each file so downstream replay reads
    * are sequential. `repartition(partitionCols)` gives one shuffle;
    * `sortWithinPartitions` avoids a global sort. It sorts by the
    * partition columns first: the partitioned file writer requires that
    * order, and would otherwise re-sort each task by the partition
    * columns alone and lose the time order within a file.
    */
  def writePartitionedSorted(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCol: String): Unit =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols :+ sortCol).map(col): _*)
      .write
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)
}
