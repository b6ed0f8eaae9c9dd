package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Registry-wide skewed-input gate — the all-rows-one-key twin of
  * DegenerateInputSpec's zero-row gate (r16 VERDICT item 5). At 100 TB
  * the other degenerate shape a tenant actually ships is total key
  * skew: every order from one customer, every event from one user in
  * one second, every document byte-identical. The salt paths
  * (`autoSalt`, `cappedKeyPairCounts`) are designed to absorb exactly
  * this; anything that instead plans a single straggler partition the
  * task can't finish, overflows a window buffer, or divides by a
  * (max−min)=0 spine surfaces here — on a tiny fixture, as a crash or
  * hang, instead of on a production corpus as a dead executor.
  *
  * Fixture discipline: PRIMARY keys stay unique (collapsing a PK is
  * not a data shape the model admits — a store enforces it); every
  * FOREIGN key, grouping attribute, timestamp, and content column
  * collapses to ONE value taken from the real sf0.001 data (so
  * referential integrity holds: the one l_orderkey IS an existing
  * order). Documents all carry one identical text — the 500-doc
  * duplicate clique every dedup family must cap, not expand — and all
  * embeddings are one identical vector, driving every ANN cell/band
  * into a single bucket. The gate is intentionally coarse (execute +
  * row count, no result assertion): wrong-but-finite answers on
  * absurd input are acceptable; crashes and stragglers are not. */
class SkewedInputSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"

  test("every registered query executes when every join/group key " +
      "collapses to a single value") {
    val dir =
      java.nio.file.Files.createTempDirectory("graft-skew").toString

    def constCol(df: DataFrame, c: String): Column =
      lit(df.agg(min(col(c))).head().get(0))
        .cast(df.schema(c).dataType)

    def skew(name: String, cols: Seq[String]): Unit = {
      val df =
        if (name == "events") Tables.events(spark, src)
        else spark.read.parquet(s"$src/$name.parquet")
      cols.foldLeft(df)((d, c) => d.withColumn(c, constCol(df, c)))
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

    skew("region", Nil) // 5 rows, all dimension — keep
    skew("nation", Seq("n_regionkey"))
    skew("customer", Seq("c_nationkey", "c_mktsegment"))
    skew("supplier", Seq("s_nationkey"))
    skew("part", Seq("p_brand", "p_type", "p_size"))
    skew("orders", Seq("o_custkey", "o_orderstatus", "o_orderpriority",
      "o_orderdate"))
    skew("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_returnflag", "l_linestatus", "l_shipdate"))
    // Every event: one user, one type, one INSTANT — sessionization
    // windows, watermark math, and the disorder spine's (max−min)
    // divisor all see their worst case.
    skew("events", Seq("user_id", "event_type", "ts"))

    // Documents: unique doc_ids, ONE byte-identical text. n_chars is
    // kept consistent with the text so length-derived gates see sane
    // values rather than a second, contradictory skew.
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val oneText = docs.orderBy("doc_id").select("text")
      .head().getString(0)
    docs.withColumn("text", lit(oneText))
      .withColumn("lang", constCol(docs, "lang"))
      .withColumn("source", constCol(docs, "source"))
      .withColumn("n_chars", lit(oneText.length.toLong))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // Embeddings: unique vec_ids, ONE identical vector — every ANN
    // cell, PQ code, and band hash collapses to a single bucket, and
    // per-dimension variance is exactly zero (the whitening/stats
    // divide-by-zero probe).
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val oneVec = emb.orderBy("vec_id").select("embedding")
      .head().getSeq[Float](0)
    emb.withColumn("embedding", typedLit(oneVec))
      .withColumn("label", constCol(emb, "label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // Fixture sanity: the skew actually holds (a silent no-op fixture
    // would make the whole gate vacuous).
    assert(spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey").distinct().count() == 1L)
    assert(spark.read.parquet(s"$dir/documents.parquet")
      .select("text").distinct().count() == 1L)

    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val r =
          try { fn(spark, dir).count(); None }
          catch { case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(200))
          }
        graft.operators.SharedStage.sweep(spark, keepCores = false)
        r
    }
    assert(failures.isEmpty,
      s"\n${failures.size} queries crash on one-key input:\n" +
        failures.mkString("\n"))
  }
}
