package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.jobs.ImportJob

/** Sink layer (SURVEY §2.1 S6).
  *
  * The reference writes one JSON file and one MongoDB document per import
  * (etl_import.py:59-64, utils.py:123-146). The JSON files and the
  * `graft-docs` store batch are written by [[ImportJob]] (the store is
  * batch-only: batch write, batch read); this object holds the
  * document id, the JDBC insert with the reference's unique-id
  * contract, and the one exactly-once stream writer. The
  * app-generated unique id becomes a content hash (deterministic,
  * collision-safe by construction — the reference's retry loop is
  * unnecessary).
  */
object Sinks {

  /** S6: deterministic document id — sha256 of the serialized payload.
    * Replaces the reference's random ObjectId + collision-check loop
    * (utils.py:123-146) with something reproducible and shard-safe.
    * It is the `_id` of [[ImportJob.storeDoc]]. */
  def docId(payload: Column): Column = ImportJob.storeDoc(payload).head

  /** S6 insert against a store that ENFORCES uniqueness (r15 VERDICT
    * item 5 — the reference's MongoDB insert loop, utils.py:123-146,
    * against a real unique index instead of an emulated one): one row
    * per document into a JDBC table whose `_id` column carries a
    * PRIMARY KEY constraint. There is NO read-existing/anti-join
    * prefilter — every row is attempted and the STORE adjudicates. A
    * duplicate-key rejection means the document is already present
    * (content-hash ids: same `_id` IS the same payload), so the
    * reference's "regenerate id and retry" loop inverts into
    * "verified stored, continue" — and because the decision is the
    * store's own constraint, the uniqueness guarantee holds under
    * CONCURRENT writers, which a read-then-append sequence against a
    * plain file store cannot promise. Partition-parallel:
    * each partition opens one connection and streams single-row
    * INSERTs; at real scale the same shape batches inserts against
    * the connector's keyed store. Returns the number of rows actually
    * inserted (attempted − duplicate-key skips). BEST-EFFORT under
    * Spark task retries: a retried partition re-attempts rows its
    * failed predecessor already landed, and those register as
    * duplicate-key skips — the STORE's content stays exactly right
    * (that is the idempotence the PK provides), but the returned
    * count can undercount "inserted by this call". A caller needing
    * an exact figure should take a store-side count delta around the
    * call. */
  def insertDocCollectionJdbc(df: DataFrame, payload: Column,
      url: String, table: String): Long = {
    // The table name is interpolated into SQL (prepared-statement
    // parameters cannot carry identifiers), so VALIDATE it: each
    // dot-separated segment must be a plain identifier, which closes
    // the injection/syntax hazard — a caller-supplied `docs; DROP
    // TABLE x` fails fast here instead of reaching the store.
    // Deliberately interpolated UNQUOTED after validation: quoting
    // would switch the name to case-sensitive resolution and break
    // every caller relying on the store's own identifier folding
    // (Derby/Postgres fold unquoted names; `docstore` means DOCSTORE
    // to Derby only while unquoted).
    // split with limit=-1 so trailing empty segments are kept and
    // rejected: Java's default split drops them, letting "docstore."
    // or "a..." through to fail store-side with malformed SQL instead
    // of here (r17 ADVICE — the fail-fast contract above).
    table.split("\\.", -1).foreach { seg =>
      require(seg.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"invalid table identifier segment '$seg' in '$table'")
    }
    val docs = df
      .select(ImportJob.storeDoc(payload): _*)
      .dropDuplicates("_id")
    val inserted = docs.mapPartitions { it =>
      if (!it.hasNext) Iterator.single(0L)
      else {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val ps = conn.prepareStatement(
            s"""INSERT INTO $table ("_id", "doc") VALUES (?, ?)""")
          var n = 0L
          // "Already stored" is ONLY a unique/PK violation. SQLState
          // class 23 covers every integrity violation (NOT NULL 23502,
          // CHECK 23513/23514, FK 23503) — swallowing those would drop
          // a row the store REJECTED for a non-uniqueness reason while
          // reporting it present (r16 ADVICE). So: 23505 (the standard
          // unique-violation state — Derby, PostgreSQL, H2, HSQLDB) or
          // the drivers that signal dup-key as generic 23000 plus a
          // vendor code (MySQL 1062, SQL Server 2601/2627, Oracle
          // ORA-00001 = code 1). Everything else — other class-23
          // states included — propagates and fails the task.
          def isDuplicateKey(e: java.sql.SQLException): Boolean =
            e.getSQLState == "23505" ||
              (e.getSQLState == "23000" &&
                Set(1, 1062, 2601, 2627).contains(e.getErrorCode))
          it.foreach { r =>
            ps.setString(1, r.getString(0))
            ps.setString(2, r.getString(1))
            try { ps.executeUpdate(); n += 1 }
            catch {
              case e: java.sql.SQLException if isDuplicateKey(e) =>
                () // the store says it's already there — contract met
            }
          }
          Iterator.single(n)
        } finally conn.close()
      }
    }(org.apache.spark.sql.Encoders.scalaLong)
    inserted.toDF("n")
      .agg(coalesce(sum("n"), lit(0L)).as("n"))
      .head().getLong(0)
  }

  /** Idempotent microbatch writer for non-transactional sinks: each
    * batch lands in its own `batch_id=` partition via DYNAMIC partition
    * overwrite, so a replayed batch (restart between sink write and
    * checkpoint commit — the failure window foreachBatch exposes)
    * overwrites its own partition instead of appending duplicates.
    * This is the standard exactly-once recipe when the sink itself has
    * no transactions, and the only stream writer here: `graft-docs`
    * takes batch writes only. Use with
    * `stream.writeStream.foreachBatch(writeBatchIdempotent(path) _)`. */
  def writeBatchIdempotent(path: String)(df: DataFrame, batchId: Long)
      : Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)
}
