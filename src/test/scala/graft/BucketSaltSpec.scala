package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.GraftOps
import graft.queries.TextOps

/** The bucket-cap salt (`GraftOps.bucketSalt`) through the two TextOps
  * generators that use it outside `GraftOps`: `starEdges` (video
  * keep-best star edges) and `horizonHits` (the first-in-horizon band
  * gate). Over the 4096 cap a bucket splits into ceil(n/4096) id-hash
  * sub-buckets and no edge crosses one; under it both generators equal
  * their unsalted forms. */
class BucketSaltSpec extends SparkSpec {
  import spark.implicits._

  test("over the cap: ceil(n/4096) sub-buckets, and every starEdges edge " +
      "stays inside one (fhash, __sub) group") {
    val n = 10000
    val frames = (1 to n).map(i => (i.toLong, "hot")).toDF("media_id", "fhash")
    val salted = GraftOps.bucketSalt(frames, Seq("fhash"), "media_id")
    assert(!salted.columns.contains("__n"))
    val sub = salted.select("media_id", "__sub").as[(Long, Long)]
      .collect().toMap
    assert(sub.values.toSet == (0L until math.ceil(n / 4096.0).toLong).toSet)
    val edges = TextOps.starEdges(frames).as[(Long, Long)].collect()
    assert(edges.nonEmpty &&
      edges.forall { case (l, r) => sub(l) == sub(r) })
    // One hub per sub-bucket: every other media links to exactly one.
    val hubs = sub.groupBy(_._2).values.map(_.keys.min).toSet
    assert(edges.map(_._2).toSet == hubs && edges.length == n - hubs.size)
  }

  test("under the cap: starEdges and horizonHits equal their unsalted " +
      "forms") {
    val frames = (1 to 40).flatMap(m =>
      Seq((m.toLong, s"f${m % 6}"), (m.toLong, s"g${m % 4}")))
      .toDF("media_id", "fhash")
    val plainStar = frames
      .withColumn("hub", min(col("media_id"))
        .over(Window.partitionBy("fhash")))
      .filter(col("media_id") =!= col("hub"))
      .select(col("media_id").as("left_id"), col("hub").as("right_id"))
      .distinct()
    val star = TextOps.starEdges(frames).as[(Long, Long)].collect().toSet
    assert(star.nonEmpty &&
      star == plainStar.as[(Long, Long)].collect().toSet)

    val docs = (1 to 80).map(i => (i.toLong,
      if (i % 3 == 0) s"unique words for document number $i only"
      else s"alpha beta gamma delta epsilon zeta template ${i % 7}"))
      .toDF("doc_id", "text")
    val bands = GraftOps.minhashBands(docs, "doc_id", "text")
    val plainHits = bands
      .join(bands.select(col("doc_id").as("i_doc"), col("band_idx"),
        col("band_hash")), Seq("band_idx", "band_hash"))
      .filter(col("i_doc") < col("doc_id") &&
        col("i_doc") >= col("doc_id") - 30)
      .select("doc_id").distinct()
    val hits = TextOps.horizonHits(docs).as[Long].collect().toSet
    assert(hits.nonEmpty && hits == plainHits.as[Long].collect().toSet)
  }
}
