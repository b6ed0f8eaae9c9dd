package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("hyperplaneBitFast matches hyperplaneBit bit-for-bit") {
    val rng = new scala.util.Random(42)
    val dim = 64
    val vecs = Seq.fill(50)(Seq.fill(dim)(rng.nextGaussian() * 3))
    val df = vecs.toDF("v")
    val slow = df.select((0 until 8).map(p =>
      hyperplaneBit($"v", p).as(s"b$p")): _*).collect()
    val fast = df.select((0 until 8).map(p =>
      hyperplaneBitFast($"v", p, dim).as(s"b$p")): _*).collect()
    assert(slow.toSeq == fast.toSeq)
  }

  test("embeddings testdata dimensionality matches Similarity.EmbDim") {
    // hyperplaneBitFast bakes the plane length at plan time; a dim drift
    // in the data would silently truncate the dot product.
    val dims = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(size($"embedding")).distinct().as[Int].collect()
    assert(dims.toSeq == Seq(64))
  }

  test("hyperplaneBit is deterministic and plane-dependent") {
    val df = Seq(Seq(0.5, -1.5, 2.0, 0.25)).toDF("v")
    val a = df.select((0 until 8).map(p =>
      hyperplaneBit($"v", p).as(s"b$p")): _*).collect().head
    val b = df.select((0 until 8).map(p =>
      hyperplaneBit($"v", p).as(s"b$p")): _*).collect().head
    assert(a == b)
    assert((0 until 8).map(a.getInt).toSet.subsetOf(Set(0, 1)))
  }

  test("emb_ivf_pq: 5 ranked hits per query, ADC approximates the " +
      "exact unit-vector distance, self excluded") {
    val out = graft.queries.Similarity.queries("emb_ivf_pq")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double, Double, Long)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._5).sorted.toSeq == (1L to 5L),
        s"query $q rank set")
      assert(rows.forall(_._2 != q), s"query $q returned itself")
      // ranks follow score desc with cand_id tiebreak
      val sorted = rows.sortBy(r => (-r._4, r._2)).map(_._5).toSeq
      assert(sorted == (1L to 5L), s"query $q rank order")
    }
    // ADC distance on unit vectors approximates 2 - 2·cos: the codes
    // quantize to 4 centroids per subspace, so the error is bounded
    // but nonzero — a wildly-off ADC (wrong join, dropped subspace)
    // lands far outside this envelope.
    out.foreach { case (q, c, adc, score, _) =>
      assert(adc >= 0.0 && adc <= 5.0, s"($q,$c) adc_d2 $adc")
      assert(math.abs(adc - (2.0 - 2.0 * score)) <= 1.5,
        s"($q,$c) adc $adc vs exact ${2.0 - 2.0 * score}")
    }
  }

  test("IVF index lifecycle: persisted partitioned by cell, a probe " +
      "prunes partitions in the scan and matches the in-memory index") {
    val d = "/root/testdata/sf0.001"
    val e = graft.Tables.embeddings(spark, d)
      .select($"vec_id", $"label".cast("long").as("cell"),
        transform($"embedding", x => x.cast("double")).as("v"))
    val path = "/tmp/graft-spec-ivf-index"
    // the 100 TB layout: the index lives ON DISK partitioned by coarse
    // cell, so an nprobe-cell query reads only those cells' files
    e.write.mode("overwrite").partitionBy("cell").parquet(path)
    val back = spark.read.parquet(path)
    val probed = back.filter($"cell".isin(1L, 3L))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe must prune by partition, got:\n$plan")
    // disk probe returns exactly the in-memory cells' vectors,
    // values intact (double round trip is exact)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"cell", $"v")
        .as[(Long, Long, Seq[Double])].collect()
        .map(r => (r._1, r._2, r._3.toList)).toSet
    val mem = key(e.filter($"cell".isin(1L, 3L)))
    assert(mem.nonEmpty && key(probed) == mem)
    // and the pruned scan reads a strict subset of the corpus
    assert(probed.count() < back.count())
  }

  test("dq_embedding_drift: one row per cell with both halves, flag " +
      "is the share gate, counts partition the corpus") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.queries.Similarity.queries("dq_embedding_drift")(
        spark, d)
      .as[(Long, Long, Long, Double, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    val total = graft.Tables.embeddings(spark, d).count()
    // every vector lands in exactly one (label, half) cell and no
    // label lost both halves on this data
    assert(rows.map(r => r._2 + r._3).sum == total)
    rows.foreach { case (l, nOld, nNew, share, cos, drift) =>
      assert(nOld > 0 && nNew > 0, s"label $l halves")
      assert(share >= 0.0 && share <= 1.0 && cos >= -1.0 && cos <= 1.0)
      assert(drift == (share < 0.4 || share > 0.6), s"label $l flag")
    }
  }

  test("emb_ivf_pq_recall: one row per query, recall == n_overlap/5 " +
      "in [0,1]") {
    val rec = graft.queries.Similarity.queries("emb_ivf_pq_recall")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double)].collect()
    assert(rec.map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L))
    rec.foreach { case (q, n, r) =>
      assert(n >= 0 && n <= 5 && r == n / 5.0, s"query $q: ($n, $r)")
    }
  }
}
