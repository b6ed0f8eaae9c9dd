package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Scalars.dollarsToCents
import graft.queries.Entities

/** `menu_items_doc` folds lineitem into one aggregate per part (max_by
  * over shipdate, orderkey, linenumber, and a bool_or of the 'R' flag).
  * Here it is compared with the row_number window and `DISTINCT` probe
  * the oracle uses, on a lineitem crafted for the cases they could
  * disagree on. */
class EntitiesSpec extends SparkSpec {

  /** A data directory holding `part` (keys 1..7) and the given lineitem
    * rows, both with the testdata schemas (TESTDATA.md). Each lineitem
    * row is (partkey, orderkey, linenumber, price, returnflag,
    * shipdate). */
  private def tables(
      lines: Seq[(Long, Long, Int, Double, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-menu").toString
    def write(name: String, ddl: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType.fromDDL(ddl)).write.parquet(s"$dir/$name.parquet")
    write("part", "p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE",
      (1L to 7L).map(k => Row(k, s"part $k", "Brand#1", "T", k.toInt, 9.5)))
    write("lineitem", "l_orderkey BIGINT, l_partkey BIGINT, " +
      "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
      "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP",
      lines.map { case (part, order, line, price, flag, ship) =>
        Row(order, part, 1L, line, 1.0, price, 0.0, 0.0, flag, "O",
          Option(ship).map(Timestamp.valueOf).orNull)
      })
    dir
  }

  /** The window form: the last price by row_number over (shipdate DESC,
    * orderkey DESC, linenumber DESC), and a `DISTINCT` probe for 'R'. */
  private def windowForm(d: String): DataFrame = {
    val l = Tables.lineitem(spark, d)
    val w = Window.partitionBy("l_partkey")
      .orderBy(col("l_shipdate").desc, col("l_orderkey").desc,
        col("l_linenumber").desc)
    val lastPrice = l.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_partkey"), col("l_extendedprice").as("last_price"))
    val wm = l.filter(col("l_returnflag") === "R")
      .select(col("l_partkey").as("wm_partkey")).distinct()
    val p = Tables.part(spark, d)
    p.join(lastPrice, p("p_partkey") === lastPrice("l_partkey"), "left")
      .join(wm, p("p_partkey") === wm("wm_partkey"), "left")
      .select(p("p_partkey").as("id"),
        dollarsToCents(col("last_price")).as("price_cents"),
        wm("wm_partkey").isNotNull.as("share_on_wm"))
  }

  test("menu_items_doc's one lineitem aggregate equals the window form " +
      "on ties, null shipdates and parts without lineitems or returns") {
    val d = tables(Seq(
      // 1: a shipdate tie, broken by the higher orderkey
      (1L, 10L, 1, 1.00, "N", "2020-01-02 00:00:00"),
      (1L, 11L, 1, 2.00, "N", "2020-01-02 00:00:00"),
      (1L, 12L, 1, 3.00, "R", "2020-01-01 00:00:00"),
      // 2: shipdate and orderkey tie, broken by the higher linenumber
      (2L, 20L, 1, 4.00, "A", "2020-02-01 00:00:00"),
      (2L, 20L, 2, 5.00, "A", "2020-02-01 00:00:00"),
      // 3: a null shipdate ranks below any date
      (3L, 30L, 1, 6.00, "N", null),
      (3L, 29L, 1, 7.00, "N", "2019-01-01 00:00:00"),
      // 4: only null shipdates: the higher orderkey wins
      (4L, 40L, 1, 8.00, "R", null),
      (4L, 41L, 1, 9.00, null, null),
      // 5: no lineitem at all
      // 6: lineitems, none returned, one with a null flag
      (6L, 60L, 1, 10.00, "A", "2021-01-01 00:00:00"),
      (6L, 61L, 1, 11.00, null, "2020-01-01 00:00:00"),
      // 7: one returned line
      (7L, 70L, 1, 12.00, "R", "2021-01-01 00:00:00")))
    val got = Entities.queries("menu_items_doc")(spark, d)
      .select("id", "price_cents", "share_on_wm")
    val want = windowForm(d)
    assert(got.schema == want.schema)
    val gotRows = got.collect().map(_.toSeq).sortBy(_.head.toString)
    val wantRows = want.collect().map(_.toSeq).sortBy(_.head.toString)
    assert(gotRows.toSeq == wantRows.toSeq)
    // and the crafted cases come out as designed
    val byId = gotRows.map(r => r.head -> (r(1), r(2))).toMap
    assert(byId(1L) == ((200L, true)))
    assert(byId(2L) == ((500L, false)))
    assert(byId(3L) == ((700L, false)))
    assert(byId(4L) == ((900L, true)))
    assert(byId(5L) == ((null, false)))
    assert(byId(6L) == ((1000L, false)))
    assert(byId(7L) == ((1200L, true)))
  }
}
