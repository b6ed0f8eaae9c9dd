package graft

import graft.api.GraftOps
import graft.expressions.VectorExpressions.vecDot
import graft.functions.VectorFunctions

/** The native VecDot expression must agree bit-for-bit with the HOF fold
  * (same left-to-right accumulation) in both codegen and interpreted
  * evaluation paths. */
class VecDotSpec extends SparkSpec {
  import spark.implicits._

  test("graft_vec_dot equals the HOF dot bit-for-bit") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2, 0.3), Seq(0.7, 0.11, -0.13)),
      (Seq.empty[Double], Seq.empty[Double])).toDF("a", "b")
    val rows = df.select(
      vecDot($"a", $"b").as("native"),
      VectorFunctions.dot($"a", $"b").as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(rows(0).getDouble(0) == 32.0)
  }

  test("null inputs propagate to null") {
    val df = Seq((Some(Seq(1.0)), None: Option[Seq[Double]]))
      .toDF("a", "b")
    val out = df.select(vecDot($"a", $"b")).collect().head
    assert(out.isNullAt(0))
  }

  test("the native expressions need no registration: a fresh session " +
      "builds and runs every caller") {
    // newSession() starts from the built-in function registry only, so
    // a plan that looked its expression up by name fails to analyze.
    val fresh = spark.newSession()
    val f = fresh.implicits
    import f._
    val cells = Seq((1L, Seq(1.0, 0.0), 0), (2L, Seq(1.0, 0.0), 0),
      (3L, Seq(0.0, 1.0), 0)).toDF("vec_id", "u", "cluster")
    assert(GraftOps.semanticDupIds(cells, "vec_id", "u", "cluster", 0.9)
      .as[Long].collect().toSeq == Seq(2L))
    assert(GraftOps.cosineTopK(cells, cells.filter($"vec_id" === 1L),
        "vec_id", "u", 1)
      .select("cand_id").as[Long].collect().toSeq == Seq(2L))
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val sigs = GraftOps.minhashSignatures(docs, "doc_id", "text")
      .drop("doc_id").distinct().collect()
    assert(sigs.length == 1 && sigs.head.size == 8)
    assert(GraftOps.rowLocalBands(docs, "doc_id", "text")
      .select("band_idx", "band_hash").distinct().count() == 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-fresh")
    Seq((1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(1.0f, 0.0f)),
        (7L, 1, Seq(0.0f, 1.0f))).toDF("vec_id", "label", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    assert(graft.queries.Similarity.queries("emb_cosine_topk")(
        fresh, dir.toString)
      .select("q_id", "cand_id").as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (1L, 7L), (2L, 1L), (2L, 7L)))
  }
}
