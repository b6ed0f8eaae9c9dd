package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Scalars._

/** The six reference entity pipelines (members.py, employees.py,
  * menu_items.py, vendors.py, physicians.py, settings.py) re-expressed as
  * single declarative DataFrame plans over the testdata analogs:
  * fieldmap-style projections, keys-map falsy-stripping, nested
  * address/phone assembly, correlated lookups decorrelated into broadcast /
  * semi joins, and last-wins folds (a window, or a `max_by` aggregate).
  *
  * Structs/arrays are built columnar and FLATTENED in the output so the
  * DuckDB oracle can hash-compare scalars (nested shapes themselves are
  * pinned by the scalatest golden-document suite instead).
  *
  * Scale: every pipeline is scan → broadcast-join dims → one projection;
  * the only shuffles are the last-wins folds (keyed by the entity id) —
  * no row loops, no collect, no N+1 lookups (the reference's per-row SQL
  * round-trips become map-side joins).
  */
object Entities {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // members.py:38-163 — customer⋈nation⋈region, fieldmap + keys map +
    // address struct + enum scalars.
    "members_doc" -> ((s, d) => membersByOrg(s, d).drop("organizationId")),

    // employees.py:40-177 — supplier⋈nation + activity semi-probe + role
    // chain + masked email + fixed DOB.
    "employees_doc" -> ((s, d) =>
      employeesByOrg(s, d).drop("organizationId")),

    // menu_items.py:41-314 — part + last-price fold (J9) + existence probe
    // (J5) + uom dim swap (J6) + category normalization (X10) + cents/url.
    // Both lineitem lookups are ONE aggregate on l_partkey, so lineitem
    // is read once: the last price is max_by over (shipdate, orderkey,
    // linenumber) — the oracle's row_number window order, since a struct
    // ranks a null shipdate below every date (the window's DESC NULLS
    // LAST) and (orderkey, linenumber) is the lineitem key, so no two
    // rows tie — and the existence probe is a bool_or of the 'R' flag.
    "menu_items_doc" -> ((s, d) => {
      val p = Tables.part(s, d)
      val perPart = Tables.lineitem(s, d).groupBy(col("l_partkey"))
        .agg(max_by(col("l_extendedprice"), struct(col("l_shipdate"),
            col("l_orderkey"), col("l_linenumber"))).as("last_price"),
          bool_or(col("l_returnflag") === "R").as("any_returned"))
      val catName = when(col("p_partkey") % 8 === 0, "Cannabis")
        .when(col("p_partkey") % 8 === 1, "Paraphernalia")
        .when(col("p_partkey") % 8 === 2, "Tincture")
        .when(col("p_partkey") % 8 === 3, "Prerolled")
        .when(col("p_partkey") % 8 === 4, "Seeds")
        .when(col("p_partkey") % 8 === 5, "Edibles")
        .when(col("p_partkey") % 8 === 6, "Flower")
        .otherwise("Wax")
      val uom  = when(col("p_size") === 1, 2).otherwise(1)
      val file = when(col("p_partkey") % 4 =!= 0,
        concat(lit("img_"), col("p_partkey"), lit(".jpg")))
      p.join(perPart, p("p_partkey") === perPart("l_partkey"), "left")
        .select(
          p("p_partkey").as("id"),
          p("p_name").as("name"),
          mapCategory(catName, col("p_size"), lit(100) - col("p_size"))
            .as("category"),
          dollarsToCents(col("last_price")).as("price_cents"),
          coalesce(col("any_returned"), lit(false)).as("share_on_wm"),
          uom.as("uom"),
          activeFlag(col("p_size") % 2).as("active"),
          netMarijuana(uom, p("p_retailprice")).as("net_mj"),
          imageUrl("assets-bucket", p("p_partkey"), "large", file)
            .as("image_url"))
    }),

    // vendors.py:30-128 — address struct (gated), phone array, any-null-
    // drops-all licence/email/website trio.
    "vendors_doc" -> ((s, d) => vendorsByOrg(s, d).drop("organizationId")),

    // physicians.py:30-136 — Dr-title strip regex, constant specialty,
    // any-present-gated address array, work phone.
    "physicians_doc" -> ((s, d) =>
      Tables.customer(s, d).select(physicianColumns: _*)),

    // settings.py:31-267 — widest nesting: tax last-wins (J8), logo URL,
    // medicalLimits monthly = two_week*2, pp-gated crm settings.
    "settings_doc" -> ((s, d) => {
      val n  = Tables.nation(s, d)
      val r  = Tables.region(s, d)
      val su = Tables.supplier(s, d)
      val w = Window.partitionBy("s_nationkey").orderBy(col("s_suppkey").desc)
      val lastTax = su.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("s_nationkey"), col("s_name").as("tax_name"),
          col("s_acctbal").as("tax_amount"))
      val logoFile = when(col("n_regionkey") =!= 0,
        concat(lit("logo_"), col("n_nationkey"), lit(".png")))
      val ppEnabled = trueOrFalse(col("n_regionkey") % 2)
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .join(broadcast(lastTax), n("n_nationkey") === lastTax("s_nationkey"),
          "left")
        .select(
          n("n_nationkey").as("id"),
          concat(lit("org-"), n("n_regionkey")).as("organization"),
          trueOrFalse(col("n_nationkey") % 2).as("menu_show_tax"),
          imageUrl("assets-bucket", n("n_nationkey"), "original", logoFile)
            .as("logo_url"),
          col("tax_name"),
          taxPercent(col("tax_amount")).as("tax_pct"),
          (n("n_nationkey") * 7).as("limit_two_week"),
          (n("n_nationkey") * 7 * 2).as("limit_monthly"),
          ppEnabled.as("pp_enabled"),
          when(ppEnabled, 2.5).as("points_per_dollar"))
    }),

    // etl_import.py:21-58 — payload assembly: one summary row with entity
    // counts + audit flags (crossJoin of single-row aggregates; no
    // collect()).
    "payload_summary" -> ((s, d) => {
      def cnt(df: DataFrame, name: String) =
        df.agg(count(lit(1)).as(name))
      cnt(Tables.customer(s, d), "members")
        .crossJoin(cnt(Tables.supplier(s, d), "employees"))
        .crossJoin(cnt(Tables.part(s, d), "products"))
        .crossJoin(cnt(Tables.nation(s, d), "settings"))
        .select(
          lit("import").as("kind"),
          lit(false).as("validated"),
          lit(false).as("imported"),
          col("members"), col("employees"), col("products"), col("settings"))
    }),

    // etl_import.py:21-64 END-TO-END (r14 VERDICT item 2): the composed
    // import job — all six *_doc extracts assembled into one nested
    // payload per organization (jobs/ImportJob.payloads; file contract
    // exercised by ImportJobSpec's writeImportFiles golden). This
    // registry entry is its flattened oracle twin: per-org audit flags,
    // pinned extraction stamp, and entity counts.
    "payload_import" -> ((s, d) =>
      graft.jobs.ImportJob.flattenedSummary(s, d)),

    // Incremental import diff (jobs/ImportJob.importDelta): what
    // changed per org+entity since the previous import snapshot, by
    // full-document content hash — see the Scaladoc for the
    // deterministic prev-snapshot derivation the oracle mirrors.
    "payload_import_delta" -> ((s, d) =>
      graft.jobs.ImportJob.importDelta(s, d)),

    // Pre-import validation report (jobs/ImportJob.validationReport):
    // per org+entity+rule violation counts — the check the reference's
    // summary.errors arrays imply but never populate.
    "payload_validate" -> ((s, d) =>
      graft.jobs.ImportJob.validationReport(s, d)))

  /** An entity row's organization, `org-{n_regionkey}`, from the nation
    * its extract already joins. */
  private def orgOfNation: Column =
    concat(lit("org-"), col("n_regionkey")).as("organizationId")

  // The org-keyed extracts: the `*_doc` columns plus `organizationId`.
  // The registry entries drop the org column again, which the optimizer
  // folds into the projection, so their plans stay as they were; the
  // import payload, delta and validation read the org from here instead
  // of re-joining nation on the entity id.

  /** members.py:38-163, keyed by organization. */
  def membersByOrg(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    val dob = when(col("c_custkey") % 5 === 0,
      to_timestamp(lit("1990-03-15 00:00:00")))
    val keysMap = stripFalsy(map(
      lit("custkey"), col("c_custkey").cast("string"),
      lit("caregiver"), when(col("c_custkey") % 3 === 0, "77"),
      lit("points"), when(col("c_acctbal") < 0, "0").otherwise("12")))
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        c("c_custkey").as("id"),
        c("c_name").as("name"),
        memberType(col("c_nationkey") % 2).as("member_type"),
        accountStatus(col("c_custkey") % 2).as("status"),
        trueOrFalse(col("c_nationkey") % 2).as("tax_exempt"),
        dobOrEpoch0(dob).as("dob"),
        dollarsToCents(col("c_acctbal")).as("balance_cents"),
        n("n_name").as("addr_city"),
        r("r_name").as("addr_country"),
        concat_ws(",", transform(array_sort(map_keys(keysMap)),
          k => concat(k, lit("="), element_at(keysMap, k))))
          .as("keys_kv"),
        orgOfNation)
  }

  /** employees.py:40-177, keyed by organization. */
  def employeesByOrg(s: SparkSession, d: String): DataFrame = {
    val su  = Tables.supplier(s, d)
    val n   = Tables.nation(s, d)
    val act = Tables.lineitem(s, d).select(col("l_suppkey")).distinct()
    val first = when(col("s_suppkey") % 4 =!= 0,
      split(col("s_name"), "#").getItem(0))
    val last  = when(col("s_suppkey") % 3 =!= 0, col("n_name"))
    su.join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(act, su("s_suppkey") === act("l_suppkey"), "left")
      .select(
        su("s_suppkey").as("id"),
        setName(first, last, concat(lit("user"), col("s_suppkey")))
          .as("name"),
        maskEmail(su("s_name")).as("email"),
        when(act("l_suppkey").isNotNull, "ACTIVE").otherwise("INACTIVE")
          .as("status"),
        when(su("s_suppkey") === 3, "store-manager")
          .when(su("s_nationkey").isin(1, 2), "site-admin")
          .otherwise("budtender").as("role"),
        employeeDob.as("dob"),
        orgOfNation)
  }

  /** vendors.py:30-128, keyed by organization. */
  def vendorsByOrg(s: SparkSession, d: String): DataFrame = {
    val su = Tables.supplier(s, d)
    val n  = Tables.nation(s, d)
    val r  = Tables.region(s, d)
    val gate = when(col("s_suppkey") % 5 =!= 0, col("n_name"))
    val addr = structWhenPresent(gate, struct(
      concat(col("s_suppkey"), lit(" Main St")).as("line1"),
      col("n_name").as("city"),
      col("r_name").as("country")))
    val phone = phoneArray("business",
      when(col("s_suppkey") % 3 =!= 0,
        concat(lit("555-010"), col("s_suppkey"))))
    val licence = concat(lit("LIC-"), col("s_suppkey"))
    val email   = maskEmail(col("s_name"))
    val website = when(col("s_suppkey") % 2 =!= 0,
      concat(lit("https://v"), col("s_suppkey"), lit(".example.com")))
    val anyNull = licence.isNull || email.isNull || website.isNull
    su.join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        su("s_suppkey").as("id"),
        su("s_name").as("name"),
        addr.getField("line1").as("addr_line1"),
        addr.getField("city").as("addr_city"),
        addr.getField("country").as("addr_country"),
        element_at(phone, 1).getField("name").as("phone_name"),
        element_at(phone, 1).getField("number").as("phone_number"),
        element_at(phone, 1).getField("default").as("phone_default"),
        when(!anyNull, licence).as("licence"),
        when(!anyNull, email).as("email"),
        when(!anyNull, website).as("website"),
        orgOfNation)
  }

  /** physicians.py:30-136's projection of a customer row. */
  private def physicianColumns: Seq[Column] = {
    val rawName = when(col("c_custkey") % 3 === 0,
      concat(lit("Dr. "), col("c_name")))
      .when(col("c_custkey") % 7 === 0, concat(lit("Drs "), col("c_name")))
      .otherwise(col("c_name"))
    val line1 = when(col("c_custkey") % 4 =!= 0,
      concat(col("c_custkey"), lit(" Elm St")))
    val city = when(col("c_custkey") % 6 =!= 0, col("c_mktsegment"))
    val anyPresent = line1.isNotNull || city.isNotNull
    val addrArr = when(anyPresent,
      array(struct(line1.as("line1"), city.as("city"))))
    val phone = phoneArray("work",
      when(col("c_custkey") % 2 === 0,
        concat(lit("555-020"), col("c_custkey"))))
    Seq(
      col("c_custkey").as("id"),
      stripDoctorTitle(rawName).as("name"),
      lit("General").as("specialty"),
      element_at(addrArr, 1).getField("line1").as("addr_line1"),
      element_at(addrArr, 1).getField("city").as("addr_city"),
      element_at(phone, 1).getField("name").as("phone_name"),
      element_at(phone, 1).getField("number").as("phone_number"))
  }

  /** physicians.py:30-136 keyed by organization: the same projection
    * over customer ⋈ broadcast(nation). The registry's `physicians_doc`
    * reads customer alone, as the reference does. */
  def physiciansByOrg(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(physicianColumns :+ orgOfNation: _*)
  }

  private val KeysKvSql =
    """concat_ws(',',
      |  CASE WHEN c_custkey % 3 = 0 THEN 'caregiver=77' END,
      |  CASE WHEN c_custkey <> 0 THEN 'custkey=' || c_custkey END,
      |  CASE WHEN NOT (c_acctbal < 0) THEN 'points=12' END)""".stripMargin

  private val baseOracle: Map[String, String] = Map(
    "members_doc" ->
      s"""SELECT c.c_custkey AS id, c.c_name AS name,
         |  CASE WHEN c.c_nationkey % 2 = 1 THEN 'MEDICAL'
         |    ELSE 'RECREATIONAL' END AS member_type,
         |  CASE WHEN c.c_custkey % 2 = 1 THEN 'INACTIVE'
         |    WHEN c.c_custkey % 2 = 0 THEN 'ACTIVE' END AS status,
         |  c.c_nationkey % 2 = 1 AS tax_exempt,
         |  CASE WHEN c.c_custkey % 5 = 0
         |    THEN TIMESTAMP '1990-03-15 00:00:00'
         |    ELSE TIMESTAMP '1970-01-01 00:00:00' END AS dob,
         |  CAST(trunc(c.c_acctbal * 100) AS BIGINT) AS balance_cents,
         |  n.n_name AS addr_city, r.r_name AS addr_country,
         |  $KeysKvSql AS keys_kv
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin,
    "employees_doc" ->
      """SELECT s.s_suppkey AS id,
        |  CASE WHEN (CASE WHEN s.s_suppkey % 4 <> 0
        |        THEN split_part(s.s_name, '#', 1) END) IS NULL
        |      AND (CASE WHEN s.s_suppkey % 3 <> 0 THEN n.n_name END) IS NULL
        |    THEN 'user' || s.s_suppkey
        |    ELSE concat_ws(' ',
        |      CASE WHEN s.s_suppkey % 4 <> 0
        |        THEN split_part(s.s_name, '#', 1) END,
        |      CASE WHEN s.s_suppkey % 3 <> 0 THEN n.n_name END) END AS name,
        |  substr(md5(s.s_name), 1, 12) || '@example.org' AS email,
        |  CASE WHEN a.l_suppkey IS NOT NULL THEN 'ACTIVE'
        |    ELSE 'INACTIVE' END AS status,
        |  CASE WHEN s.s_suppkey = 3 THEN 'store-manager'
        |    WHEN s.s_nationkey IN (1, 2) THEN 'site-admin'
        |    ELSE 'budtender' END AS role,
        |  TIMESTAMP '1970-01-01 02:30:00' AS dob
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |LEFT JOIN (SELECT DISTINCT l_suppkey FROM lineitem) a
        |  ON s.s_suppkey = a.l_suppkey""".stripMargin,
    "menu_items_doc" ->
      """WITH lastp AS (
        |  SELECT l_partkey, l_extendedprice AS last_price
        |  FROM (SELECT *, row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC)
        |      AS rn FROM lineitem) WHERE rn = 1),
        |wm AS (SELECT DISTINCT l_partkey AS wm_partkey FROM lineitem
        |  WHERE l_returnflag = 'R'),
        |base AS (SELECT p.*, lp.last_price, w.wm_partkey,
        |  CASE p.p_partkey % 8 WHEN 0 THEN 'Cannabis'
        |    WHEN 1 THEN 'Paraphernalia' WHEN 2 THEN 'Tincture'
        |    WHEN 3 THEN 'Prerolled' WHEN 4 THEN 'Seeds'
        |    WHEN 5 THEN 'Edibles' WHEN 6 THEN 'Flower'
        |    ELSE 'Wax' END AS cat_name,
        |  CASE WHEN p.p_size = 1 THEN 2 ELSE 1 END AS uom
        |  FROM part p
        |  LEFT JOIN lastp lp ON p.p_partkey = lp.l_partkey
        |  LEFT JOIN wm w ON p.p_partkey = w.wm_partkey)
        |SELECT p_partkey AS id, p_name AS name,
        |  CASE WHEN lower(cat_name) = 'cannabis' THEN
        |      CASE WHEN p_size > 0 AND (100 - p_size) > 0 THEN
        |          CASE WHEN p_size > 80 THEN 'Sativa'
        |            WHEN (100 - p_size) > 80 THEN 'Indica'
        |            ELSE 'Other' END
        |        ELSE 'Hybrid' END
        |    WHEN lower(cat_name) = 'paraphernalia' THEN 'Gear'
        |    WHEN lower(cat_name) = 'tincture' THEN 'Tinctures'
        |    WHEN lower(cat_name) = 'prerolled' THEN 'Preroll'
        |    WHEN cat_name = 'Seeds' THEN 'Seed'
        |    WHEN cat_name = 'Drinks' THEN 'Drink'
        |    WHEN cat_name = 'Edibles' THEN 'Edible'
        |    WHEN cat_name IN ('Indica','Sativa','Hybrid','Edible',
        |      'Concentrate','Drink','Clone','Seed','Tinctures','Gear',
        |      'Topicals','Preroll','Wax','Hash') THEN cat_name
        |    ELSE 'Other' END AS category,
        |  CAST(trunc(last_price * 100) AS BIGINT) AS price_cents,
        |  wm_partkey IS NOT NULL AS share_on_wm,
        |  uom,
        |  coalesce(p_size % 2 = 1, false) AS active,
        |  CASE WHEN uom = 2 THEN CAST(trunc(p_retailprice) AS INT) END
        |    AS net_mj,
        |  CASE WHEN p_partkey % 4 <> 0
        |    THEN 'assets-bucket/' || p_partkey || '/large/img_' ||
        |      p_partkey || '.jpg' END AS image_url
        |FROM base""".stripMargin,
    "vendors_doc" ->
      """SELECT s.s_suppkey AS id, s.s_name AS name,
        |  CASE WHEN s.s_suppkey % 5 <> 0
        |    THEN s.s_suppkey || ' Main St' END AS addr_line1,
        |  CASE WHEN s.s_suppkey % 5 <> 0 THEN n.n_name END AS addr_city,
        |  CASE WHEN s.s_suppkey % 5 <> 0 THEN r.r_name END AS addr_country,
        |  CASE WHEN s.s_suppkey % 3 <> 0 THEN 'business' END AS phone_name,
        |  CASE WHEN s.s_suppkey % 3 <> 0
        |    THEN '555-010' || s.s_suppkey END AS phone_number,
        |  CASE WHEN s.s_suppkey % 3 <> 0 THEN true END AS phone_default,
        |  CASE WHEN s.s_suppkey % 2 <> 0
        |    THEN 'LIC-' || s.s_suppkey END AS licence,
        |  CASE WHEN s.s_suppkey % 2 <> 0
        |    THEN substr(md5(s.s_name), 1, 12) || '@example.org' END AS email,
        |  CASE WHEN s.s_suppkey % 2 <> 0
        |    THEN 'https://v' || s.s_suppkey || '.example.com' END AS website
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey""".stripMargin,
    "physicians_doc" ->
      """SELECT c_custkey AS id,
        |  trim(regexp_replace(
        |    CASE WHEN c_custkey % 3 = 0 THEN 'Dr. ' || c_name
        |      WHEN c_custkey % 7 = 0 THEN 'Drs ' || c_name
        |      ELSE c_name END,
        |    '^(Dr(?:.)?s|(?:Dr.?))', '', 'i')) AS name,
        |  'General' AS specialty,
        |  CASE WHEN c_custkey % 4 <> 0
        |    THEN c_custkey || ' Elm St' END AS addr_line1,
        |  CASE WHEN (c_custkey % 4 <> 0 OR c_custkey % 6 <> 0)
        |      AND c_custkey % 6 <> 0
        |    THEN c_mktsegment END AS addr_city,
        |  CASE WHEN c_custkey % 2 = 0 THEN 'work' END AS phone_name,
        |  CASE WHEN c_custkey % 2 = 0
        |    THEN '555-020' || c_custkey END AS phone_number
        |FROM customer""".stripMargin,
    "settings_doc" ->
      """WITH lasttax AS (
        |  SELECT s_nationkey, s_name AS tax_name, s_acctbal AS tax_amount
        |  FROM (SELECT *, row_number() OVER (PARTITION BY s_nationkey
        |      ORDER BY s_suppkey DESC) AS rn FROM supplier) WHERE rn = 1)
        |SELECT n.n_nationkey AS id,
        |  'org-' || n.n_regionkey AS organization,
        |  n.n_nationkey % 2 = 1 AS menu_show_tax,
        |  CASE WHEN n.n_regionkey <> 0
        |    THEN 'assets-bucket/' || n.n_nationkey || '/original/logo_' ||
        |      n.n_nationkey || '.png' END AS logo_url,
        |  t.tax_name, t.tax_amount / 100.0 AS tax_pct,
        |  CAST(n.n_nationkey * 7 AS INT) AS limit_two_week,
        |  CAST(n.n_nationkey * 7 * 2 AS INT) AS limit_monthly,
        |  n.n_regionkey % 2 = 1 AS pp_enabled,
        |  CASE WHEN n.n_regionkey % 2 = 1 THEN CAST(2.5 AS DOUBLE) END
        |    AS points_per_dollar
        |FROM nation n
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |LEFT JOIN lasttax t ON n.n_nationkey = t.s_nationkey""".stripMargin,
    "payload_summary" ->
      """SELECT 'import' AS kind, false AS validated, false AS imported,
        |  (SELECT count(*) FROM customer) AS members,
        |  (SELECT count(*) FROM supplier) AS employees,
        |  (SELECT count(*) FROM part) AS products,
        |  (SELECT count(*) FROM nation) AS settings""".stripMargin,
    "payload_import" ->
      """WITH cust AS (
        |  SELECT n.n_regionkey AS rk, count(*) AS n
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1),
        |supp AS (
        |  SELECT n.n_regionkey AS rk, count(*) AS n
        |  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  GROUP BY 1),
        |prod AS (SELECT p_partkey % 5 AS rk, count(*) AS n FROM part
        |  GROUP BY 1),
        |sett AS (SELECT n_regionkey AS rk, count(*) AS n FROM nation
        |  GROUP BY 1)
        |SELECT 'org-' || r.r_regionkey AS organization_id,
        |  false AS validated, false AS imported,
        |  CAST(1700000000 AS BIGINT) AS extracted_epoch,
        |  coalesce(cust.n, 0) AS n_members,
        |  coalesce(supp.n, 0) AS n_employees,
        |  coalesce(prod.n, 0) AS n_products,
        |  coalesce(supp.n, 0) AS n_vendors,
        |  coalesce(cust.n, 0) AS n_physicians,
        |  coalesce(sett.n, 0) AS n_settings
        |FROM region r
        |LEFT JOIN cust ON r.r_regionkey = cust.rk
        |LEFT JOIN supp ON r.r_regionkey = supp.rk
        |LEFT JOIN prod ON r.r_regionkey = prod.rk
        |LEFT JOIN sett ON r.r_regionkey = sett.rk""".stripMargin)

  /** One entity block of the payload_import_delta oracle: `curSql`
    * yields (id, org, h) for the CURRENT extract -- h = md5 over the
    * full flattened doc with chr(1) separator / chr(2) null sentinel,
    * the exact twin of ImportJob.importDelta's hash -- then the
    * deterministic previous snapshot is derived (id%11 dropped, id%13
    * hash-perturbed, id%17 ghost-duplicated at +10^7), full-outer
    * diffed, and counted per org. */
  private def deltaBlock(entity: String, curSql: String): String =
    s"""SELECT '$entity' AS entity, organization_id,
       |  CAST(sum(CASE WHEN cls = 'inserted' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_inserted,
       |  CAST(sum(CASE WHEN cls = 'deleted' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_deleted,
       |  CAST(sum(CASE WHEN cls = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_changed,
       |  CAST(sum(CASE WHEN cls = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unchanged
       |FROM (
       |  SELECT coalesce(c.org, p.org) AS organization_id,
       |    CASE WHEN p.id IS NULL THEN 'inserted'
       |      WHEN c.id IS NULL THEN 'deleted'
       |      WHEN p.h <> c.h THEN 'changed'
       |      ELSE 'unchanged' END AS cls
       |  FROM (
       |    SELECT id, org,
       |      CASE WHEN id % 13 = 0 THEN md5(h || 'x') ELSE h END AS h
       |    FROM ($curSql) pb WHERE id % 11 <> 0
       |    UNION ALL
       |    SELECT id + 10000000, org, h FROM ($curSql) pg
       |    WHERE id % 11 <> 0 AND id % 17 = 0
       |  ) p
       |  FULL OUTER JOIN ($curSql) c ON p.id = c.id
       |) GROUP BY organization_id""".stripMargin

  val oracle: Map[String, String] = baseOracle +
    ("payload_import_delta" -> {
      def hash(cols: Seq[String]): String = cols
        .map(c => s"coalesce(CAST(d.$c AS VARCHAR), chr(2))")
        .mkString("md5(concat_ws(chr(1), ", ", ", "))")
      val members =
        s"""SELECT d.id, 'org-' || n2.n_regionkey AS org,
           |  ${hash(Seq("id", "name", "member_type", "status",
                "tax_exempt", "dob", "balance_cents", "addr_city",
                "addr_country", "keys_kv"))} AS h
           |FROM (${baseOracle("members_doc")}) d
           |JOIN customer c2 ON d.id = c2.c_custkey
           |JOIN nation n2 ON c2.c_nationkey = n2.n_nationkey"""
          .stripMargin
      val vendors =
        s"""SELECT d.id, 'org-' || n2.n_regionkey AS org,
           |  ${hash(Seq("id", "name", "addr_line1", "addr_city",
                "addr_country", "phone_name", "phone_number",
                "phone_default", "licence", "email", "website"))} AS h
           |FROM (${baseOracle("vendors_doc")}) d
           |JOIN supplier s2 ON d.id = s2.s_suppkey
           |JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey"""
          .stripMargin
      val products =
        s"""SELECT d.id, 'org-' || (d.id % 5) AS org,
           |  ${hash(Seq("id", "name", "category", "price_cents",
                "share_on_wm", "uom", "active", "net_mj",
                "image_url"))} AS h
           |FROM (${baseOracle("menu_items_doc")}) d""".stripMargin
      Seq(deltaBlock("members", members),
        deltaBlock("vendors", vendors),
        deltaBlock("products", products))
        .mkString("", "\nUNION ALL\n", "")
    }) +
    ("payload_validate" -> {
      def block(entity: String, orgedSql: String, rule: String,
          cond: String): String =
        s"""SELECT '$entity' AS entity, org AS organization_id,
           |  '$rule' AS rule,
           |  CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violations
           |FROM ($orgedSql) GROUP BY org""".stripMargin
      val morg =
        s"""SELECT d.*, 'org-' || n2.n_regionkey AS org
           |FROM (${baseOracle("members_doc")}) d
           |JOIN customer c2 ON d.id = c2.c_custkey
           |JOIN nation n2 ON c2.c_nationkey = n2.n_nationkey"""
          .stripMargin
      val vorg =
        s"""SELECT d.*, 'org-' || n2.n_regionkey AS org
           |FROM (${baseOracle("vendors_doc")}) d
           |JOIN supplier s2 ON d.id = s2.s_suppkey
           |JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey"""
          .stripMargin
      val porg =
        s"""SELECT d.*, 'org-' || (d.id % 5) AS org
           |FROM (${baseOracle("menu_items_doc")}) d""".stripMargin
      Seq(
        block("members", morg, "missing_dob",
          "dob = TIMESTAMP '1970-01-01 00:00:00'"),
        block("members", morg, "negative_balance", "balance_cents < 0"),
        block("vendors", vorg, "missing_licence", "licence IS NULL"),
        block("vendors", vorg, "missing_phone", "phone_number IS NULL"),
        block("products", porg, "missing_price", "price_cents IS NULL"),
        block("products", porg, "missing_image", "image_url IS NULL"))
        .mkString("", "\nUNION ALL\n", "")
    })
}
