package graft

import org.apache.spark.sql.functions._
import graft.expressions.TextExpressions
import graft.functions.TextFunctions._

/** The native [[graft.expressions.MinhashSig]] expression must be
  * byte-identical to the composed `minhashSig(shingles(tokens(...)))`
  * column it replaces in the row-local path — tokenization quirks
  * (tabs, newlines, leading/trailing whitespace, unicode), the
  * empty-shingle seed default, and the null-as-empty convention all
  * pinned here; corpus-scale parity rides the existing
  * rowLocalBands == minhashBands property and the DuckDB oracle. */
class MinhashSigSpec extends SparkSpec {
  import spark.implicits._

  private val adversarial = Seq(
    "",
    " ",
    "\t\n",
    "one",
    "one two",
    "a b c",
    "a  b\tc\nd",
    "  lead and trail  ",
    "héllo wörld ünïcode tökens stream",
    "日本語 の テスト 文書 です",
    "x y z x y z x y z",
    "a b c d e f g h i j k l m n o p",
    (1 to 200).map(i => s"tok$i").mkString(" "),
    "punct, heavy! tokens? here; ok: end.",
    " nbsp is not ascii whitespace so it stays inside its token")

  test("graft_minhash_sig equals the composed minhashSig column on " +
      "adversarial inputs, and null means empty in the band path") {
    val df = adversarial.zipWithIndex.map(_.swap).toDF("i", "t")
    val got = df.select($"i",
        TextExpressions.minhashSig($"t").as("sig"))
      .as[(Int, Seq[String])].collect().toMap
    val want = df.select($"i",
        minhashSig(shingles(tokens($"t"), 3), 8).as("sig"))
      .as[(Int, Seq[String])].collect().toMap
    adversarial.indices.foreach { i =>
      assert(got(i) == want(i),
        s"input ${i} (${adversarial(i).take(30)}…): " +
          s"${got(i)} vs ${want(i)}")
    }
    // null text: rowLocalBands must emit the SAME bands the composed
    // chain produced (null → empty-shingle seed signature)
    val nullRow = Seq((1L, null: String)).toDF("doc_id", "text")
    val bands = graft.api.GraftOps
      .rowLocalBands(nullRow, "doc_id", "text")
      .select("band_idx", "band_hash").as[(Int, String)].collect().toSet
    val emptyRow = Seq((1L, "")).toDF("doc_id", "text")
    val emptyBands = graft.api.GraftOps
      .rowLocalBands(emptyRow, "doc_id", "text")
      .select("band_idx", "band_hash").as[(Int, String)].collect().toSet
    assert(bands == emptyBands && bands.size == 4,
      s"null text must band like an empty doc: $bands vs $emptyBands")
  }

  test("the expression survives both evaluation modes: whole-stage " +
      "codegen (write path) and interpreted eval") {
    val df = adversarial.zipWithIndex.map(_.swap).toDF("i", "t")
      .select($"i", TextExpressions.minhashSig($"t").as("sig"))
    // codegen path: a full materialization through the noop sink
    df.write.mode("overwrite").format("noop").save()
    // interpreted path: evaluate the expression directly
    val expr = graft.expressions.MinhashSig(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("a b c d")))
    val arr = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(arr.numElements() == 8)
    val viaDf = Seq("a b c d").toDF("t")
      .select(minhashSig(shingles(tokens($"t"), 3), 8)).as[Seq[String]]
      .collect().head
    assert((0 until 8).map(j => arr.getUTF8String(j).toString) == viaDf)
  }

  test("graft_distinct_shingles equals the composed " +
      "array_distinct(shingles(tokens(...), n)) on adversarial inputs, " +
      "order included, for n in 1..4 (r19 VERDICT item 4)") {
    val df = adversarial.zipWithIndex.map(_.swap).toDF("i", "t")
    for (n <- 1 to 4) {
      val got = df.select($"i",
          TextExpressions.distinctShingles($"t", n).as("sh"))
        .as[(Int, Seq[String])].collect().toMap
      val want = df.select($"i",
          array_distinct(shingles(tokens($"t"), n)).as("sh"))
        .as[(Int, Seq[String])].collect().toMap
      adversarial.indices.foreach { i =>
        assert(got(i) == want(i),
          s"n=$n input $i (${adversarial(i).take(30)}…): " +
            s"${got(i)} vs ${want(i)}")
      }
    }
    // the one-arg form defaults to n=3, and both evaluation modes agree
    val one = df.select(
        TextExpressions.distinctShingles($"t").as("sh"))
      .as[Seq[String]].collect().toSeq
    val three = df.select(
        TextExpressions.distinctShingles($"t", 3).as("sh"))
      .as[Seq[String]].collect().toSeq
    assert(one == three, "one-arg default is not n=3")
    val expr = graft.expressions.DistinctShingles(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "a b c a b c d")), 3)
    val arr = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert((0 until arr.numElements())
      .map(j => arr.getUTF8String(j).toString) ==
      Seq("a b c", "b c a", "c a b", "b c d"),
      "interpreted eval mismatch")
  }
}
