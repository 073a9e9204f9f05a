package graft.tpcds

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic TPC-DS-shaped dataset generator.
  *
  * The reference gates TPC-DS at planning only (`core/tests/tpcds_planning.rs`);
  * we additionally EXECUTE all 99 queries and oracle them against DuckDB
  * (r6 verdict #1). DuckDB's `tpcds` extension (dsdgen) cannot load in this
  * zero-egress environment, so the data comes from this generator instead:
  * 24 tables matching resources/tpcds/schema.txt exactly, with referential
  * integrity (returns reference real sale lines, demographics keys resolve,
  * calendar-faithful date_dim/time_dim) and dsdgen-like value domains so the
  * spec queries' literal filters (years 1998-2002, month_seq 1176-1235,
  * category/class/color pools, 'Williamson County', sm_carrier 'BARIAN'…)
  * select non-trivial row sets. Correctness does not depend on the domains:
  * both engines read the SAME parquet files, so the oracle compare is exact
  * regardless of distribution choices — the domains only keep the queries'
  * result sets non-empty and interesting.
  *
  * Everything is a pure function of the row index via xxhash64, so the data
  * is bit-identical across runs, partitionings, and Spark versions; the
  * tables are written once under `dir` and reused (marker file `_graft_ok`).
  *
  * Scale: ~320k sale lines + 3.1M inventory rows — small enough for the
  * 99-query gate to run in minutes at local[4], large enough that ties,
  * empty groups, and decorrelation edge cases show up. The generator itself
  * is spark.range + column algebra: fully distributed, no driver loops.
  */
object TpcdsData {

  val tables: Seq[String] = Seq(
    "call_center", "catalog_page", "catalog_returns", "catalog_sales",
    "customer", "customer_address", "customer_demographics", "date_dim",
    "household_demographics", "income_band", "inventory", "item",
    "promotion", "reason", "ship_mode", "store", "store_returns",
    "store_sales", "time_dim", "warehouse", "web_page", "web_returns",
    "web_sales", "web_site")

  /** Fact-row multiplier for scale rehearsals (dims/date/time stay
    * fixed): SPARK_GRAFT_TPCDS_SCALE=10 → 10× orders per channel. The
    * default gate runs at 1. */
  val scale: Int =
    sys.env.getOrElse("SPARK_GRAFT_TPCDS_SCALE", "1").toInt

  /** Data directory; the DuckDB oracle embeds this absolute path (scale
    * variants get their own dir so rehearsals don't clobber the gate). */
  val dir: String = sys.env.getOrElse("SPARK_GRAFT_TPCDS_DIR",
    if (scale == 1) "/root/repo/target/tpcds"
    else s"/root/repo/target/tpcds-x$scale")

  // ── deterministic value helpers (SQL expression fragments) ───────────
  /** Uniform int in [0, m) from the row id (+ extra key columns). */
  private def h(salt: Int, m: Int, cols: String = "id"): String =
    s"cast(pmod(xxhash64($cols, $salt), ${m}L) as int)"

  private def pick(salt: Int, pool: Seq[String]): String =
    s"element_at(array(${pool.map(s => s"'$s'").mkString(",")}), 1 + ${h(salt, pool.size)})"

  /** cents → DECIMAL(p,2); cents values are exact in double, so the cast
    * rounds to the exact 2-dp value. */
  private def dec(cents: String, p: Int = 7): String =
    s"cast(($cents) / 100 as decimal($p,2))"

  private def nullPct(expr: String, salt: Int, pct: Int, cols: String = "id"): String =
    s"if(${h(salt, 100, cols)} < $pct, null, $expr)"

  // day 0 = 1900-01-01 (so sk differences are day gaps, the only sk
  // arithmetic the corpus does); 1998-01-01 = 35794
  private val sk1998 = 35794
  private val factDays = 1825 // 1998-01-01 .. 2002-12-30

  // every ca_state / ca_county literal the 99 queries filter on is in
  // these pools (extracted mechanically from the corpus)
  private val states = Seq("TN", "TX", "VA", "CA", "GA", "MS", "IN", "OR",
    "AL", "SC", "KY", "OH", "IL", "MI", "NC", "FL", "WA", "CO", "MO", "IA",
    "KS", "NE", "MN", "WI", "AR", "LA", "OK", "NM", "UT", "MT", "CT", "ND",
    "NJ")
  private val counties = Seq("Williamson County", "Dona Ana County",
    "Jefferson County", "La Porte County", "Rush County", "Toole County",
    "Bronx County", "Orange County", "Franklin Parish", "Ziebach County",
    "Walker County", "Daviess County")
  private val cities = Seq("Edgewood", "Fairview", "Midway", "Oakland",
    "Riverside", "Centerville", "Oak Grove", "Glendale", "Bethel",
    "Pleasant Hill", "Liberty", "Union", "Wilson", "Salem", "Antioch",
    "Marion", "Greenfield", "Clinton", "Springdale", "Shiloh")
  private val streetTypes = Seq("Ave", "Blvd", "Ct", "Dr", "Ln", "Pkwy",
    "St", "Way", "Cir", "Rd")
  private val syllables = Seq("ought", "able", "pri", "ese", "anti",
    "cally", "ation", "eing", "n st", "bar")
  // q41 probes 8 specific (color-pair, units-pair) combinations inside a
  // 41-manufact window; with independent uniform attributes over full
  // pools the expected match count is ~0.1. The first 16 entries of these
  // two pools are ORDERED as q41's pairs (color 2i,2i+1 ↔ units 2i,2i+1),
  // and the item builder correlates units to the color index half the
  // time, which lifts q41's expectation to a few rows without affecting
  // any other query's semantics (both engines read the same data).
  private val q41Colors = Seq("powder", "khaki", "brown", "honeydew",
    "floral", "deep", "light", "cornflower", "midnight", "snow",
    "cyan", "papaya", "orange", "frosted", "forest", "ghost")
  private val colors = q41Colors ++ Seq("medium", "peach", "blanched",
    "burlywood", "burnished", "indian", "purple", "slate", "spring",
    "pale", "chiffon", "metallic", "smoke", "saddle", "almond", "navy")
  private val units = Seq("Ounce", "Oz", "Bunch", "Ton", "N/A", "Dozen",
    "Box", "Pound", "Pallet", "Gross", "Cup", "Dram", "Each", "Tbl",
    "Lb", "Bundle")
  private val categories = Seq("Books", "Children", "Electronics", "Home",
    "Jewelry", "Men", "Music", "Shoes", "Sports", "Women")
  // per-category class pools (indexes align with `categories`); includes
  // every i_class literal the query corpus filters on, placed under the
  // category the corpus pairs it with (q53/q63: Books/Children/Electronics
  // × personal/portable/reference/self-help)
  private val classes: Seq[Seq[String]] = Seq(
    Seq("arts", "business", "fiction", "history", "reference", "self-help"),
    Seq("infants", "newborn", "school-uniforms", "toddlers", "reference", "portable"),
    Seq("cameras", "computers", "stereo", "televisions", "personal", "portable"),
    Seq("bathroom", "bedding", "blinds/shades", "curtains/drapes", "decor", "lighting"),
    Seq("birdal", "bracelets", "diamonds", "jewelry boxes", "rings", "watches"),
    Seq("accessories", "pants", "shirts", "sportswear", "shorts", "swimwear"),
    Seq("classical", "country", "pop", "rock", "jazz", "folk"),
    Seq("athletic", "kids", "mens", "womens", "infant", "work"),
    Seq("basketball", "camping", "fitness", "football", "baseball", "golf"),
    Seq("dresses", "fragrances", "maternity", "swimwear", "accessories", "pants"))
  // dsdgen-style brand corp names; the first six appear in q53/q63's
  // i_brand IN-lists ('scholaramalgamalg #14', 'amalgimporto #1', …)
  private val brandCorps = Seq("scholaramalgamalg", "amalgimporto",
    "edu packscholar", "exportiimporto", "importoamalg", "exportiunivamalg",
    "amalgamalg", "edu packimporto", "univmaxiamalg", "importoscholar")
  private val countries = Seq("United States", "Germany", "France", "Japan",
    "Brazil", "Canada", "Mexico", "India", "China", "Italy", "Spain",
    "Kenya", "Peru", "Chile", "Norway", "Sweden", "Poland", "Greece",
    "Turkey", "Egypt", "Nigeria", "Vietnam", "Thailand", "Malaysia",
    "Australia", "Ireland", "Portugal", "Hungary", "Austria", "Denmark")
  // shared store/customer zip pool: q24 equi-joins s_zip = ca_zip, and
  // q8's literal list must intersect ca_zip — draw both from one pool
  // seeded with the first rows of q8's IN-list plus filler
  private val zips = Seq("24128", "76232", "65084", "87816", "83926",
    "77556", "20548", "26231", "43848", "15126", "91137", "61265",
    "98294", "25782", "17920", "18426", "98235", "40081", "84093",
    "28577", "55565", "17183", "54601", "67897", "22752", "86284",
    "18376", "38607", "45200", "21756", "29741", "96765", "23932",
    "89360", "29839", "25989", "28898", "91068", "72550", "10390",
    "30142", "30515", "31289", "32011", "33774", "34001", "35993",
    "36420", "37002", "38112", "39531", "30309")
  private val firstNames = Seq("James", "Mary", "John", "Patricia",
    "Robert", "Jennifer", "Michael", "Linda", "William", "Elizabeth",
    "David", "Barbara", "Richard", "Susan", "Joseph", "Jessica", "Thomas",
    "Sarah", "Charles", "Karen")
  private val lastNames = Seq("Smith", "Johnson", "Williams", "Brown",
    "Jones", "Garcia", "Miller", "Davis", "Rodriguez", "Martinez",
    "Hernandez", "Lopez", "Gonzalez", "Wilson", "Anderson", "Thomas",
    "Taylor", "Moore", "Jackson", "Martin")

  // ── per-table builders ───────────────────────────────────────────────

  private def dateDim(s: SparkSession): DataFrame =
    // 1990-01-01 .. 2009-12-31: covers fact dates 1998-2002 plus the
    // year-over-year / +120-day lookarounds the corpus does
    s.range(7305).selectExpr("date_add(date'1990-01-01', cast(id as int)) as d")
      .selectExpr(
        "cast(datediff(d, date'1900-01-01') as int) as d_date_sk",
        "concat('D', lpad(cast(datediff(d, date'1900-01-01') as string), 10, '0')) as d_date_id",
        "d as d_date",
        "cast((year(d) - 1900) * 12 + month(d) - 1 as int) as d_month_seq",
        "cast(floor((datediff(d, date'1900-01-01') + 1) / 7) + 1 as int) as d_week_seq",
        "cast((year(d) - 1900) * 4 + quarter(d) - 1 as int) as d_quarter_seq",
        "cast(year(d) as int) as d_year",
        "cast(dayofweek(d) - 1 as int) as d_dow", // 0=Sunday .. 6=Saturday
        "cast(month(d) as int) as d_moy",
        "cast(day(d) as int) as d_dom",
        "cast(quarter(d) as int) as d_qoy",
        "cast(year(d) as int) as d_fy_year",
        "cast((year(d) - 1900) * 4 + quarter(d) - 1 as int) as d_fy_quarter_seq",
        "cast(floor((datediff(d, date'1900-01-01') + 1) / 7) + 1 as int) as d_fy_week_seq",
        "date_format(d, 'EEEE') as d_day_name",
        "concat(year(d), 'Q', quarter(d)) as d_quarter_name",
        "if((month(d)=12 and day(d)=25) or (month(d)=7 and day(d)=4) or (month(d)=1 and day(d)=1), 'Y', 'N') as d_holiday",
        "if(dayofweek(d) in (1, 7), 'Y', 'N') as d_weekend",
        "if((month(d)=12 and day(d)=26) or (month(d)=7 and day(d)=5) or (month(d)=1 and day(d)=2), 'Y', 'N') as d_following_holiday",
        "cast(datediff(trunc(d, 'MM'), date'1900-01-01') as int) as d_first_dom",
        "cast(datediff(last_day(d), date'1900-01-01') as int) as d_last_dom",
        "cast(datediff(d, date'1900-01-01') - 365 as int) as d_same_day_ly",
        "cast(datediff(d, date'1900-01-01') - 91 as int) as d_same_day_lq",
        "'N' as d_current_day", "'N' as d_current_week",
        "'N' as d_current_month", "'N' as d_current_quarter",
        "'N' as d_current_year")

  private def timeDim(s: SparkSession): DataFrame =
    s.range(86400).selectExpr(
      "cast(id as int) as t_time_sk",
      "concat('T', lpad(cast(id as string), 8, '0')) as t_time_id",
      "cast(id as int) as t_time",
      "cast(id div 3600 as int) as t_hour",
      "cast((id div 60) % 60 as int) as t_minute",
      "cast(id % 60 as int) as t_second",
      "if(id < 43200, 'AM', 'PM') as t_am_pm",
      "case when id div 3600 between 6 and 13 then 'first' " +
        "when id div 3600 between 14 and 21 then 'second' else 'third' end as t_shift",
      "case when id div 3600 between 6 and 9 then 'morning' " +
        "when id div 3600 between 10 and 13 then 'noon' " +
        "when id div 3600 between 14 and 17 then 'afternoon' " +
        "when id div 3600 between 18 and 21 then 'evening' else 'night' end as t_sub_shift",
      "case when id div 3600 between 6 and 8 then 'breakfast' " +
        "when id div 3600 between 11 and 13 then 'lunch' " +
        "when id div 3600 between 17 and 20 then 'dinner' end as t_meal_time")

  private def item(s: SparkSession): DataFrame =
    s.range(1, 2001).selectExpr(
      "cast(id as int) as i_item_sk",
      // ~5% of item_ids are shared by two sks (SCD pairs, dsdgen-style)
      s"concat('ITEM', lpad(cast(1 + ${h(1, 1900)} as string), 8, '0')) as i_item_id",
      s"element_at(array(date'1997-10-27', date'1999-10-28', date'2000-10-27', date'2001-10-27'), 1 + ${h(2, 4)}) as i_rec_start_date",
      "cast(null as date) as i_rec_end_date",
      s"concat_ws(' ', ${pick(3, syllables)}, ${pick(4, syllables)}, ${pick(5, syllables)}, ${pick(6, syllables)}, 'item description') as i_item_desc",
      s"${dec(s"9 + ${h(7, 9991)}")} as i_current_price",
      s"${dec(s"50 + ${h(8, 5951)}")} as i_wholesale_cost",
      s"cast((1 + ${h(9, 10)}) * 1000000 + (1 + ${h(10, 6)}) * 1000 + ${h(11, 100)} as int) as i_brand_id",
      s"concat(${pick(12, brandCorps)}, ' #', 1 + ${h(11, 15)}) as i_brand",
      s"cast(1 + ${h(10, 6)} as int) as i_class_id",
      s"element_at(element_at(array(${classes.map(cs => s"array(${cs.map(c => s"'$c'").mkString(",")})").mkString(",")}), 1 + ${h(9, 10)}), 1 + ${h(10, 6)}) as i_class",
      s"cast(1 + ${h(9, 10)} as int) as i_category_id",
      s"element_at(array(${categories.map(c => s"'$c'").mkString(",")}), 1 + ${h(9, 10)}) as i_category",
      s"cast(1 + ${h(14, 1000)} as int) as i_manufact_id",
      s"concat('manufact', lpad(cast(1 + ${h(14, 1000)} as string), 6, '0')) as i_manufact",
      s"${pick(15, Seq("N/A", "extra large", "medium", "petite", "small", "large", "economy"))} as i_size",
      s"concat(${pick(16, syllables)}, ${pick(17, syllables)}) as i_formulation",
      // color: half the draws from the q41-ordered 16-pool (denser);
      // units: half the draws take the units PAIRED with the color's q41
      // pair index (see q41Colors note) — the rest uniform
      s"if(${h(24, 2)} = 0, element_at(array(${q41Colors.map(c => s"'$c'").mkString(",")}), 1 + ${h(18, 16)}), ${pick(18, colors)}) as i_color",
      s"if(${h(25, 2)} = 0, element_at(array(${units.map(u => s"'$u'").mkString(",")}), cast(1 + ((if(${h(24, 2)} = 0, ${h(18, 16)}, ${h(18, colors.size)}) div 2) % 8) * 2 + ${h(26, 2)} as int)), ${pick(19, units)}) as i_units",
      "'Unknown' as i_container",
      s"cast(1 + ${h(20, 100)} as int) as i_manager_id",
      s"concat(${pick(21, syllables)}, ${pick(22, syllables)}, ${pick(23, syllables)}) as i_product_name")

  private def customerDemographics(s: SparkSession): DataFrame =
    // full cross of gender(2) × marital(5) × education(7) × purchase_estimate(20)
    // × credit_rating(4) = 5600 rows; every filter combo the corpus uses exists
    s.range(5600).selectExpr(
      "cast(id + 1 as int) as cd_demo_sk",
      "if(id % 2 = 0, 'M', 'F') as cd_gender",
      "element_at(array('M','S','D','W','U'), cast(1 + (id div 2) % 5 as int)) as cd_marital_status",
      "element_at(array('Primary','Secondary','College','2 yr Degree','4 yr Degree','Advanced Degree','Unknown'), cast(1 + (id div 10) % 7 as int)) as cd_education_status",
      "cast(500 * (1 + (id div 70) % 20) as int) as cd_purchase_estimate",
      "element_at(array('Good','High Risk','Low Risk','Unknown'), cast(1 + (id div 1400) % 4 as int)) as cd_credit_rating",
      s"cast(${h(30, 7)} as int) as cd_dep_count",
      s"cast(${h(31, 7)} as int) as cd_dep_employed_count",
      s"cast(${h(32, 7)} as int) as cd_dep_college_count")

  private def householdDemographics(s: SparkSession): DataFrame =
    s.range(1200).selectExpr(
      "cast(id + 1 as int) as hd_demo_sk",
      "cast(1 + id % 20 as int) as hd_income_band_sk",
      "element_at(array('>10000','5001-10000','1001-5000','501-1000','0-500','Unknown'), cast(1 + (id div 20) % 6 as int)) as hd_buy_potential",
      "cast((id div 120) % 10 as int) as hd_dep_count",
      "cast((id div 240) % 6 - 1 as int) as hd_vehicle_count")

  private def incomeBand(s: SparkSession): DataFrame =
    s.range(1, 21).selectExpr(
      "cast(id as int) as ib_income_band_sk",
      "cast((id - 1) * 10000 as int) as ib_lower_bound",
      "cast(id * 10000 as int) as ib_upper_bound")

  private def customerAddress(s: SparkSession): DataFrame =
    s.range(1, 3001).selectExpr(
      "cast(id as int) as ca_address_sk",
      "concat('ADDR', lpad(cast(id as string), 12, '0')) as ca_address_id",
      s"cast(1 + ${h(40, 999)} as string) as ca_street_number",
      s"concat_ws(' ', ${pick(41, syllables)}, ${pick(42, syllables)}) as ca_street_name",
      s"${pick(43, streetTypes)} as ca_street_type",
      s"concat('Suite ', ${h(44, 400)}) as ca_suite_number",
      s"${nullPct(pick(45, cities), 46, 2)} as ca_city",
      s"${pick(47, counties)} as ca_county",
      s"${nullPct(s"case when ${h(53, 100)} < 35 then 'TN' when ${h(53, 100)} < 55 then element_at(array('IN','OH','NJ','WI','CT','KY','LA','IA','AR'), 1 + ${h(54, 9)}) else ${pick(48, states)} end", 49, 2)} as ca_state",
      s"${pick(50, zips)} as ca_zip",
      "'United States' as ca_country",
      s"${dec(s"element_at(array(-500, -500, -500, -600, -600, -700, -800), 1 + ${h(51, 7)})", 5)} as ca_gmt_offset",
      s"${pick(52, Seq("apartment", "condo", "single family"))} as ca_location_type")

  private def customer(s: SparkSession): DataFrame =
    s.range(1, 5001).selectExpr(
      "cast(id as int) as c_customer_sk",
      "concat('CUST', lpad(cast(id as string), 12, '0')) as c_customer_id",
      s"${nullPct(s"1 + ${h(60, 5600)}", 61, 3)} as c_current_cdemo_sk",
      s"${nullPct(s"1 + ${h(62, 1200)}", 63, 3)} as c_current_hdemo_sk",
      s"cast(1 + ${h(64, 3000)} as int) as c_current_addr_sk",
      s"cast($sk1998 + 330 + ${h(65, 1460)} as int) as c_first_shipto_date_sk",
      s"cast($sk1998 + ${h(65, 1460)} as int) as c_first_sales_date_sk",
      s"${pick(66, Seq("Mr.", "Mrs.", "Ms.", "Dr.", "Miss", "Sir"))} as c_salutation",
      s"${nullPct(pick(67, firstNames), 68, 2)} as c_first_name",
      s"${nullPct(pick(69, lastNames), 70, 2)} as c_last_name",
      s"${nullPct(s"if(${h(71, 2)} = 0, 'Y', 'N')", 72, 2)} as c_preferred_cust_flag",
      s"cast(1 + ${h(73, 28)} as int) as c_birth_day",
      s"cast(1 + ${h(74, 12)} as int) as c_birth_month",
      s"cast(1924 + ${h(75, 69)} as int) as c_birth_year",
      s"${nullPct(pick(76, countries), 77, 2)} as c_birth_country",
      "cast(null as string) as c_login",
      s"concat(${pick(67, firstNames)}, '.', ${pick(69, lastNames)}, '@example', ${h(78, 100)}, '.edu') as c_email_address",
      s"cast($sk1998 + 1095 + ${h(79, 730)} as int) as c_last_review_date_sk")

  private def store(s: SparkSession): DataFrame =
    s.range(1, 13).selectExpr(
      "cast(id as int) as s_store_sk",
      "concat('STORE', lpad(cast(id as string), 10, '0')) as s_store_id",
      "date'1997-03-13' as s_rec_start_date",
      "cast(null as date) as s_rec_end_date",
      s"${nullPct(s"$sk1998 + 1700", 80, 85)} as s_closed_date_sk",
      s"${pick(81, syllables)} as s_store_name",
      s"cast(200 + ${h(82, 101)} as int) as s_number_employees",
      s"cast(5000000 + ${h(83, 5000000)} as int) as s_floor_space",
      s"${pick(84, Seq("8AM-8AM", "8AM-4PM", "8AM-12AM"))} as s_hours",
      s"concat(${pick(85, firstNames)}, ' ', ${pick(86, lastNames)}) as s_manager",
      "cast(1 + (id - 1) % 10 as int) as s_market_id", // cycle: every market 1-10 exists (q24 filters =8)
      "'Unknown' as s_geography_class",
      s"concat_ws(' ', ${pick(88, syllables)}, ${pick(89, syllables)}, 'market') as s_market_desc",
      s"concat(${pick(90, firstNames)}, ' ', ${pick(91, lastNames)}) as s_market_manager",
      "cast(1 as int) as s_division_id",
      "'Unknown' as s_division_name",
      "cast(1 as int) as s_company_id",
      "'Unknown' as s_company_name",
      s"cast(1 + ${h(92, 999)} as string) as s_street_number",
      s"concat_ws(' ', ${pick(93, syllables)}, ${pick(94, syllables)}) as s_street_name",
      s"${pick(95, streetTypes)} as s_street_type",
      s"concat('Suite ', ${h(96, 400)}) as s_suite_number",
      s"${pick(97, cities)} as s_city",
      // half the stores in Williamson County, rest spread over the other
      // counties the corpus filters stores by (q-multi-county store sets)
      s"if(${h(103, 2)} = 0, 'Williamson County', element_at(array('Bronx County','Orange County','Franklin Parish'), 1 + ${h(104, 3)})) as s_county",
      s"if(${h(98, 3)} < 2, 'TN', element_at(array('GA','SC','AL'), 1 + ${h(99, 3)})) as s_state",
      s"${pick(100, zips)} as s_zip",
      "'United States' as s_country",
      s"${dec(s"if(${h(101, 4)} < 3, -500, -600)", 5)} as s_gmt_offset",
      s"${dec(h(102, 12), 5)} as s_tax_percentage")

  private def warehouse(s: SparkSession): DataFrame =
    s.range(1, 7).selectExpr(
      "cast(id as int) as w_warehouse_sk",
      "concat('WH', lpad(cast(id as string), 14, '0')) as w_warehouse_id",
      s"concat_ws(' ', ${pick(110, syllables)}, ${pick(111, syllables)}, 'warehouse') as w_warehouse_name",
      s"cast(50000 + ${h(112, 950000)} as int) as w_warehouse_sq_ft",
      s"cast(1 + ${h(113, 999)} as string) as w_street_number",
      s"concat_ws(' ', ${pick(114, syllables)}, ${pick(115, syllables)}) as w_street_name",
      s"${pick(116, streetTypes)} as w_street_type",
      s"concat('Suite ', ${h(117, 400)}) as w_suite_number",
      s"${pick(118, cities)} as w_city",
      "'Williamson County' as w_county",
      "'TN' as w_state",
      s"lpad(cast(30000 + ${h(119, 9999)} as string), 5, '0') as w_zip",
      "'United States' as w_country",
      s"${dec("-500", 5)} as w_gmt_offset")

  private def webSite(s: SparkSession): DataFrame =
    s.range(1, 7).selectExpr(
      "cast(id as int) as web_site_sk",
      "concat('WEB', lpad(cast(id as string), 13, '0')) as web_site_id",
      "date'1997-08-16' as web_rec_start_date",
      "cast(null as date) as web_rec_end_date",
      "concat('site_', id - 1) as web_name",
      s"cast($sk1998 - 700 + ${h(120, 600)} as int) as web_open_date_sk",
      s"${nullPct(s"$sk1998 + 1700", 121, 80)} as web_close_date_sk",
      "'Unknown' as web_class",
      s"concat(${pick(122, firstNames)}, ' ', ${pick(123, lastNames)}) as web_manager",
      s"cast(1 + ${h(124, 6)} as int) as web_mkt_id",
      s"concat_ws(' ', ${pick(125, syllables)}, ${pick(126, syllables)}) as web_mkt_class",
      s"concat_ws(' ', ${pick(127, syllables)}, ${pick(128, syllables)}, 'market') as web_mkt_desc",
      s"concat(${pick(129, firstNames)}, ' ', ${pick(130, lastNames)}) as web_market_manager",
      "cast(1 as int) as web_company_id",
      s"${pick(131, syllables)} as web_company_name",
      s"cast(1 + ${h(132, 999)} as string) as web_street_number",
      s"concat_ws(' ', ${pick(133, syllables)}, ${pick(134, syllables)}) as web_street_name",
      s"${pick(135, streetTypes)} as web_street_type",
      s"concat('Suite ', ${h(136, 400)}) as web_suite_number",
      s"${pick(137, cities)} as web_city",
      "'Williamson County' as web_county",
      "'TN' as web_state",
      s"lpad(cast(30000 + ${h(138, 9999)} as string), 5, '0') as web_zip",
      "'United States' as web_country",
      s"${dec("-500", 5)} as web_gmt_offset",
      s"${dec(h(139, 12), 5)} as web_tax_percentage")

  private def webPage(s: SparkSession): DataFrame =
    s.range(1, 25).selectExpr(
      "cast(id as int) as wp_web_page_sk",
      "concat('PAGE', lpad(cast(id as string), 12, '0')) as wp_web_page_id",
      "date'1997-09-03' as wp_rec_start_date",
      "cast(null as date) as wp_rec_end_date",
      s"cast($sk1998 - 400 + ${h(140, 300)} as int) as wp_creation_date_sk",
      s"cast($sk1998 + ${h(141, 1000)} as int) as wp_access_date_sk",
      s"if(${h(142, 2)} = 0, 'Y', 'N') as wp_autogen_flag",
      s"${nullPct(s"1 + ${h(143, 5000)}", 144, 70)} as wp_customer_sk",
      "'http://www.foo.com' as wp_url",
      s"${pick(145, Seq("ad", "dynamic", "feedback", "general", "order", "protected", "welcome"))} as wp_type",
      s"cast(100 + ${h(146, 7000)} as int) as wp_char_count",
      s"cast(1 + ${h(147, 25)} as int) as wp_link_count",
      s"cast(1 + ${h(148, 7)} as int) as wp_image_count",
      s"cast(1 + ${h(149, 4)} as int) as wp_max_ad_count")

  private def callCenter(s: SparkSession): DataFrame =
    s.range(1, 9).selectExpr(
      "cast(id as int) as cc_call_center_sk",
      "concat('CC', lpad(cast(id as string), 14, '0')) as cc_call_center_id",
      "date'1998-01-01' as cc_rec_start_date",
      "cast(null as date) as cc_rec_end_date",
      "cast(null as int) as cc_closed_date_sk",
      s"cast($sk1998 - 1000 + ${h(150, 900)} as int) as cc_open_date_sk",
      "element_at(array('NY Metro','Mid Atlantic','North Midwest','California','Pacific Northwest','Southeast','Southwest','Hawaii/Alaska'), cast(id as int)) as cc_name",
      s"${pick(151, Seq("small", "medium", "large"))} as cc_class",
      s"cast(100 + ${h(152, 600)} as int) as cc_employees",
      s"cast(10000 + ${h(153, 20000)} as int) as cc_sq_ft",
      s"${pick(154, Seq("8AM-8AM", "8AM-4PM", "8AM-12AM"))} as cc_hours",
      s"concat(${pick(155, firstNames)}, ' ', ${pick(156, lastNames)}) as cc_manager",
      s"cast(1 + ${h(157, 6)} as int) as cc_mkt_id",
      s"concat_ws(' ', ${pick(158, syllables)}, ${pick(159, syllables)}) as cc_mkt_class",
      s"concat_ws(' ', ${pick(160, syllables)}, ${pick(161, syllables)}, 'market') as cc_mkt_desc",
      s"concat(${pick(162, firstNames)}, ' ', ${pick(163, lastNames)}) as cc_market_manager",
      "cast(1 as int) as cc_division",
      "'Unknown' as cc_division_name",
      "cast(1 as int) as cc_company",
      s"${pick(164, syllables)} as cc_company_name",
      s"cast(1 + ${h(165, 999)} as string) as cc_street_number",
      s"concat_ws(' ', ${pick(166, syllables)}, ${pick(167, syllables)}) as cc_street_name",
      s"${pick(168, streetTypes)} as cc_street_type",
      s"concat('Suite ', ${h(169, 400)}) as cc_suite_number",
      s"${pick(170, cities)} as cc_city",
      "'Williamson County' as cc_county",
      "'TN' as cc_state",
      s"lpad(cast(30000 + ${h(171, 9999)} as string), 5, '0') as cc_zip",
      "'United States' as cc_country",
      s"${dec("-500", 5)} as cc_gmt_offset",
      s"${dec(h(172, 12), 5)} as cc_tax_percentage")

  private def catalogPage(s: SparkSession): DataFrame =
    s.range(1, 401).selectExpr(
      "cast(id as int) as cp_catalog_page_sk",
      "concat('CP', lpad(cast(id as string), 14, '0')) as cp_catalog_page_id",
      s"cast($sk1998 + 365 * cast((id - 1) div 80 as int) as int) as cp_start_date_sk",
      s"cast($sk1998 + 365 * cast((id - 1) div 80 as int) + 364 as int) as cp_end_date_sk",
      "'DEPARTMENT' as cp_department",
      "cast(1 + (id - 1) div 80 as int) as cp_catalog_number",
      "cast(1 + (id - 1) % 80 as int) as cp_catalog_page_number",
      s"concat_ws(' ', ${pick(180, syllables)}, ${pick(181, syllables)}, 'catalog page') as cp_description",
      s"${pick(182, Seq("bi-annual", "quarterly", "monthly"))} as cp_type")

  private def promotion(s: SparkSession): DataFrame =
    s.range(1, 121).selectExpr(
      "cast(id as int) as p_promo_sk",
      "concat('PROMO', lpad(cast(id as string), 11, '0')) as p_promo_id",
      s"cast($sk1998 + ${h(190, 1700)} as int) as p_start_date_sk",
      s"cast($sk1998 + 100 + ${h(190, 1700)} as int) as p_end_date_sk",
      s"cast(1 + ${h(191, 2000)} as int) as p_item_sk",
      s"cast(1000 * (1 + ${h(192, 1000)}) as decimal(15,2)) as p_cost",
      "cast(1 as int) as p_response_target",
      s"concat(${pick(193, syllables)}, ${pick(194, syllables)}) as p_promo_name",
      s"if(${h(195, 10)} < 3, 'Y', 'N') as p_channel_dmail",
      s"if(${h(196, 10)} < 3, 'Y', 'N') as p_channel_email",
      s"if(${h(197, 10)} < 3, 'Y', 'N') as p_channel_catalog",
      s"if(${h(198, 10)} < 3, 'Y', 'N') as p_channel_tv",
      s"if(${h(199, 10)} < 3, 'Y', 'N') as p_channel_radio",
      s"if(${h(200, 10)} < 3, 'Y', 'N') as p_channel_press",
      s"if(${h(201, 10)} < 3, 'Y', 'N') as p_channel_event",
      s"if(${h(202, 10)} < 3, 'Y', 'N') as p_channel_demo",
      s"concat_ws(' ', ${pick(203, syllables)}, ${pick(204, syllables)}, 'details') as p_channel_details",
      s"${pick(205, Seq("Unknown"))} as p_purpose",
      "'N' as p_discount_active")

  private def reason(s: SparkSession): DataFrame =
    s.range(1, 37).selectExpr(
      "cast(id as int) as r_reason_sk",
      "concat('RSN', lpad(cast(id as string), 13, '0')) as r_reason_id",
      "concat('reason ', id) as r_reason_desc")

  private def shipMode(s: SparkSession): DataFrame =
    s.range(1, 21).selectExpr(
      "cast(id as int) as sm_ship_mode_sk",
      "concat('SM', lpad(cast(id as string), 14, '0')) as sm_ship_mode_id",
      "element_at(array('EXPRESS','NEXT DAY','OVERNIGHT','REGULAR','TWO DAY'), cast(1 + (id - 1) % 5 as int)) as sm_type",
      "element_at(array('AIR','SURFACE','SEA','LIBRARY'), cast(1 + (id - 1) div 5 as int)) as sm_code",
      "element_at(array('UPS','FEDEX','AIRBORNE','USPS','DHL','TBS','ZHOU','LATVIAN','AIRDELIVER','GREAT EASTERN','DIAMOND','RUPEKSA','ALLIANCE','ORIENTAL','BARIAN','BOXBUNDLES','MSC','HARMSTORF','PRIVATECARRIER','GERMA'), cast(id as int)) as sm_carrier",
      s"cast(${h(210, 20)} as string) as sm_contract")

  private def inventory(s: SparkSession): DataFrame =
    // weekly snapshots (Sundays 1998-01-04 .. 2002-12-29) × all items ×
    // all warehouses — the dsdgen layout q21/q22/q37/q39/q72 expect
    s.range(261L * 2000 * 6).selectExpr(
      s"cast(${sk1998 + 3} + (id div 12000) * 7 as int) as inv_date_sk",
      "cast(1 + (id div 6) % 2000 as int) as inv_item_sk",
      "cast(1 + id % 6 as int) as inv_warehouse_sk",
      s"${nullPct(h(220, 1000), 221, 2)} as inv_quantity_on_hand")

  /** Shared shape for the three sales channels: header attrs constant per
    * order/ticket, 1-4 lines each, exact decimal price algebra in cents. */
  private def salesLines(s: SparkSession, orders: Long, salt: Int): DataFrame =
    s.range(orders)
      // basket-size mixture: 5% of orders are big baskets of 14-21 lines
      // (q34's HAVING count(*) BETWEEN 15 AND 20 needs them to exist),
      // the rest 1-5 lines (q73's BETWEEN 1 AND 5)
      .selectExpr("id", s"explode(sequence(1, if(${h(salt + 26, 20)} = 0, 14 + ${h(salt + 27, 8)}, 1 + ${h(salt + 1, 5)}))) as line")
      .selectExpr("id", "line",
        // header-level (functions of id only). ~12% of orders land on one
        // of 60 "hot" dates and (below) draw 70% of their lines from 120
        // "hot" items — dsdgen-like popularity skew, so same-(date,item)
        // multiplicity queries (q23's HAVING count(*)>4 frequent items,
        // basket counts q34/q73) select non-trivial sets
        s"cast(if(${h(salt + 22, 100)} < 12, $sk1998 + (case when ${h(salt + 23, 60)} = 24 then 732 else ${h(salt + 23, 60)} * 30 end), $sk1998 + ${h(salt + 2, factDays)}) as int) as sold_date_sk",
        s"cast(25200 + ${h(salt + 3, 50000)} as int) as sold_time_sk",
        s"${nullPct(s"1 + ${h(salt + 4, 5000)}", salt + 5, 2)} as customer_sk",
        s"${nullPct(s"if(${h(salt + 30, 100)} < 25, 1 + ${h(salt + 31, 2)} + 2 * element_at(array(0, 1, 3, 0, 1, 2), 1 + ${h(salt + 32, 6)}) + 10 * element_at(array(5, 2, 3, 4, 1, 6), 1 + ${h(salt + 32, 6)}) + 70 * ${h(salt + 33, 20)} + 1400 * ${h(salt + 34, 4)}, 1 + ${h(salt + 6, 5600)})", salt + 7, 2)} as cdemo_sk",
        s"${nullPct(s"1 + ${h(salt + 8, 1200)}", salt + 9, 2)} as hdemo_sk",
        s"${nullPct(s"1 + ${h(salt + 10, 3000)}", salt + 11, 2)} as addr_sk",
        "cast(id + 1 as int) as order_number",
        // line-level (functions of id + line). Item choice, in order:
        //  - hot orders draw 70% of lines from the 120 hot items;
        //  - else 25% of lines come from the CUSTOMER's personal 8-item
        //    affinity pool, keyed on the customer VALUE (no channel salt),
        //    so the same person re-buys the same items across store/
        //    catalog/web — the correlation q17/q25/q29's buy-return-rebuy
        //    chains require;
        //  - else uniform.
        s"cast(case when ${h(salt + 22, 100)} < 12 and ${h(salt + 23, 60)} = 24 and ${h(salt + 37, 100, "id, line")} < 60 then 1 + ${h(salt + 38, 8, "id, line")} when ${h(salt + 22, 100)} < 12 and ${h(salt + 24, 100, "id, line")} < 70 then 1 + ${h(salt + 25, 120, "id, line")} " +
          s"when ${h(salt + 28, 100, "id, line")} < 25 then 1 + cast(pmod(xxhash64('aff', coalesce(1 + ${h(salt + 4, 5000)}, 0), ${h(salt + 29, 8, "id, line")}), 2000) as int) " +
          s"else 1 + ${h(salt + 12, 2000, "id, line")} end as int) as item_sk",
        s"${nullPct(s"1 + ${h(salt + 13, 120, "id, line")}", salt + 14, 30, "id, line")} as promo_sk",
        s"cast(case when ${h(salt + 22, 100)} < 12 and ${h(salt + 23, 60)} = 24 and ${h(salt + 37, 100, "id, line")} < 60 then 40 + ${h(salt + 39, 21, "id, line")} when ${h(salt + 35, 100, "id, line")} < 30 then 1 + ${h(salt + 15, 8, "id, line")} else 1 + ${h(salt + 15, 100, "id, line")} end as int) as quantity",
        "line as __line",
        s"cast(${h(salt + 17, 121, "id, line")} as int) as markup_pct",   // 0..120
        s"cast(if(${h(salt + 40, 100, "id, line")} < 70, ${h(salt + 18, 21, "id, line")}, ${h(salt + 18, 101, "id, line")}) as int) as discount_pct",
        s"cast(${h(salt + 19, 10, "id, line")} as int) as tax_pct",       // 0..9
        s"cast(if(${h(salt + 20, 10, "id, line")} < 8, 0, 1 + ${h(salt + 21, 30, "id, line")}) as int) as coupon_pct")
      .selectExpr("*",
        // unit wholesale up to $180 -> unit list up to ~$396: q13/q85's
        // `sales_price BETWEEN 100 AND 200` bands and q49's
        // `return_amt > 10000` threshold have non-trivial density
        s"cast((50 + cast(pmod(xxhash64('price', item_sk), 17951L) as int)) * (90 + ${h(salt + 36, 21, "id, __line")}) div 100 as int) as whole_c")
      .selectExpr("*",
        "cast(whole_c + whole_c * markup_pct div 100 + 20 as int) as list_c")
      .selectExpr("*",
        "cast(greatest(1, list_c - list_c * discount_pct div 100) as int) as sales_c")
      .selectExpr("*",
        "cast(quantity * sales_c * coupon_pct div 100 as int) as coupon_c",
        "cast(quantity * sales_c * tax_pct div 100 as int) as tax_c")

  private def storeSales(s: SparkSession): DataFrame =
    salesLines(s, 60000L * scale, 1000).selectExpr(
      "sold_date_sk as ss_sold_date_sk",
      "sold_time_sk as ss_sold_time_sk",
      "item_sk as ss_item_sk",
      "customer_sk as ss_customer_sk",
      "cdemo_sk as ss_cdemo_sk",
      "hdemo_sk as ss_hdemo_sk",
      "addr_sk as ss_addr_sk",
      s"cast(1 + ${h(1050, 12)} as int) as ss_store_sk",
      "promo_sk as ss_promo_sk",
      "order_number as ss_ticket_number",
      "quantity as ss_quantity",
      s"${dec("whole_c")} as ss_wholesale_cost",
      s"${dec("list_c")} as ss_list_price",
      s"${dec("sales_c")} as ss_sales_price",
      s"${dec("quantity * (list_c - sales_c)")} as ss_ext_discount_amt",
      s"${dec("quantity * sales_c")} as ss_ext_sales_price",
      s"${dec("quantity * whole_c")} as ss_ext_wholesale_cost",
      s"${dec("quantity * list_c")} as ss_ext_list_price",
      s"${dec("tax_c")} as ss_ext_tax",
      s"${dec("coupon_c")} as ss_coupon_amt",
      s"${dec("quantity * sales_c - coupon_c")} as ss_net_paid",
      s"${dec("quantity * sales_c - coupon_c + tax_c")} as ss_net_paid_inc_tax",
      s"${dec("quantity * sales_c - coupon_c - quantity * whole_c")} as ss_net_profit")

  private def storeReturns(s: SparkSession): DataFrame =
    // ~10% of sale lines return; FK (item_sk, ticket_number) references a
    // real store_sales line, returned 5-120 days after the sale
    salesLines(s, 60000L * scale, 1000)
      .where(s"${h(1060, 10, "id, line")} = 0")
      .selectExpr(
        s"cast(sold_date_sk + 5 + ${h(1061, 116, "id, line")} as int) as sr_returned_date_sk",
        s"cast(25200 + ${h(1062, 50000, "id, line")} as int) as sr_return_time_sk",
        "item_sk as sr_item_sk",
        s"if(${h(1063, 100, "id, line")} < 85, customer_sk, 1 + ${h(1064, 5000, "id, line")}) as sr_customer_sk",
        "cdemo_sk as sr_cdemo_sk",
        "hdemo_sk as sr_hdemo_sk",
        "addr_sk as sr_addr_sk",
        s"cast(1 + ${h(1050, 12)} as int) as sr_store_sk",
        s"${nullPct(s"1 + ${h(1065, 36, "id, line")}", 1066, 3, "id, line")} as sr_reason_sk",
        "order_number as sr_ticket_number",
        s"cast(if(${h(1967, 2, "id, line")} = 0, quantity, 1 + ${h(1067, 100, "id, line")} % quantity) as int) as ret_qty",
        "sales_c", "tax_pct", "whole_c")
      .selectExpr("sr_returned_date_sk", "sr_return_time_sk", "sr_item_sk",
        "sr_customer_sk", "sr_cdemo_sk", "sr_hdemo_sk", "sr_addr_sk",
        "sr_store_sk", "sr_reason_sk", "sr_ticket_number",
        "ret_qty as sr_return_quantity",
        s"${dec("ret_qty * sales_c")} as sr_return_amt",
        s"${dec("ret_qty * sales_c * tax_pct div 100")} as sr_return_tax",
        s"${dec("ret_qty * sales_c + ret_qty * sales_c * tax_pct div 100")} as sr_return_amt_inc_tax",
        s"${dec("500 + ret_qty * 7")} as sr_fee",
        s"${dec("ret_qty * 250")} as sr_return_ship_cost",
        s"${dec("ret_qty * sales_c * 60 div 100")} as sr_refunded_cash",
        s"${dec("ret_qty * sales_c * 30 div 100")} as sr_reversed_charge",
        s"${dec("ret_qty * sales_c * 10 div 100")} as sr_store_credit",
        s"${dec("500 + ret_qty * 7 + ret_qty * 250 + ret_qty * sales_c * tax_pct div 100")} as sr_net_loss")

  private def catalogSales(s: SparkSession): DataFrame =
    salesLines(s, 32000L * scale, 2000).selectExpr(
      "sold_date_sk as cs_sold_date_sk",
      "sold_time_sk as cs_sold_time_sk",
      s"cast(sold_date_sk + 2 + ${h(2050, 60, "id, line")} as int) as cs_ship_date_sk",
      "customer_sk as cs_bill_customer_sk",
      "cdemo_sk as cs_bill_cdemo_sk",
      "hdemo_sk as cs_bill_hdemo_sk",
      "addr_sk as cs_bill_addr_sk",
      // ship-to differs from bill-to on ~10% of orders (q-cross-ship joins)
      s"if(${h(2051, 10)} = 0, 1 + ${h(2052, 5000)}, customer_sk) as cs_ship_customer_sk",
      s"if(${h(2051, 10)} = 0, 1 + ${h(2053, 5600)}, cdemo_sk) as cs_ship_cdemo_sk",
      s"if(${h(2051, 10)} = 0, 1 + ${h(2054, 1200)}, hdemo_sk) as cs_ship_hdemo_sk",
      s"if(${h(2051, 10)} = 0, 1 + ${h(2055, 3000)}, addr_sk) as cs_ship_addr_sk",
      s"${nullPct(s"1 + ${h(2056, 8)}", 2057, 2)} as cs_call_center_sk",
      s"${nullPct(s"1 + ${h(2058, 400, "id, line")}", 2059, 2, "id, line")} as cs_catalog_page_sk",
      s"cast(1 + ${h(2060, 20, "id, line")} as int) as cs_ship_mode_sk",
      // warehouse varies per LINE: q16's multi-warehouse-order exists test
      s"cast(1 + ${h(2061, 6, "id, line")} as int) as cs_warehouse_sk",
      "item_sk as cs_item_sk",
      "promo_sk as cs_promo_sk",
      "order_number as cs_order_number",
      "quantity as cs_quantity",
      s"${dec("whole_c")} as cs_wholesale_cost",
      s"${dec("list_c")} as cs_list_price",
      s"${dec("sales_c")} as cs_sales_price",
      s"${dec("quantity * (list_c - sales_c)")} as cs_ext_discount_amt",
      s"${dec("quantity * sales_c")} as cs_ext_sales_price",
      s"${dec("quantity * whole_c")} as cs_ext_wholesale_cost",
      s"${dec("quantity * list_c")} as cs_ext_list_price",
      s"${dec("tax_c")} as cs_ext_tax",
      s"${dec("coupon_c")} as cs_coupon_amt",
      s"${dec("quantity * 150")} as cs_ext_ship_cost",
      s"${dec("quantity * sales_c - coupon_c")} as cs_net_paid",
      s"${dec("quantity * sales_c - coupon_c + tax_c")} as cs_net_paid_inc_tax",
      s"${dec("quantity * sales_c - coupon_c + quantity * 150")} as cs_net_paid_inc_ship",
      s"${dec("quantity * sales_c - coupon_c + tax_c + quantity * 150")} as cs_net_paid_inc_ship_tax",
      s"${dec("quantity * sales_c - coupon_c - quantity * whole_c")} as cs_net_profit")

  private def catalogReturns(s: SparkSession): DataFrame =
    salesLines(s, 32000L * scale, 2000)
      .where(s"${h(2070, 10, "id, line")} = 0")
      .selectExpr(
        s"cast(sold_date_sk + 10 + ${h(2071, 110, "id, line")} as int) as cr_returned_date_sk",
        s"cast(25200 + ${h(2072, 50000, "id, line")} as int) as cr_returned_time_sk",
        "item_sk as cr_item_sk",
        "customer_sk as cr_refunded_customer_sk",
        "cdemo_sk as cr_refunded_cdemo_sk",
        "hdemo_sk as cr_refunded_hdemo_sk",
        "addr_sk as cr_refunded_addr_sk",
        s"if(${h(2073, 100, "id, line")} < 85, customer_sk, 1 + ${h(2074, 5000, "id, line")}) as cr_returning_customer_sk",
        s"if(${h(2975, 100, "id, line")} < 85, cdemo_sk, 1 + ${h(2075, 5600, "id, line")}) as cr_returning_cdemo_sk",
        s"if(${h(2976, 100, "id, line")} < 85, hdemo_sk, 1 + ${h(2076, 1200, "id, line")}) as cr_returning_hdemo_sk",
        s"if(${h(2977, 100, "id, line")} < 85, addr_sk, 1 + ${h(2077, 3000, "id, line")}) as cr_returning_addr_sk",
        s"${nullPct(s"1 + ${h(2056, 8)}", 2078, 2)} as cr_call_center_sk",
        s"${nullPct(s"1 + ${h(2058, 400, "id, line")}", 2079, 2, "id, line")} as cr_catalog_page_sk",
        s"cast(1 + ${h(2060, 20, "id, line")} as int) as cr_ship_mode_sk",
        s"cast(1 + ${h(2061, 6, "id, line")} as int) as cr_warehouse_sk",
        s"${nullPct(s"1 + ${h(2080, 36, "id, line")}", 2081, 3, "id, line")} as cr_reason_sk",
        "order_number as cr_order_number",
        s"cast(if(${h(2982, 2, "id, line")} = 0, quantity, 1 + ${h(2082, 100, "id, line")} % quantity) as int) as ret_qty",
        "sales_c", "tax_pct")
      .selectExpr("cr_returned_date_sk", "cr_returned_time_sk", "cr_item_sk",
        "cr_refunded_customer_sk", "cr_refunded_cdemo_sk",
        "cr_refunded_hdemo_sk", "cr_refunded_addr_sk",
        "cr_returning_customer_sk", "cr_returning_cdemo_sk",
        "cr_returning_hdemo_sk", "cr_returning_addr_sk",
        "cr_call_center_sk", "cr_catalog_page_sk", "cr_ship_mode_sk",
        "cr_warehouse_sk", "cr_reason_sk", "cr_order_number",
        "ret_qty as cr_return_quantity",
        s"${dec("ret_qty * sales_c")} as cr_return_amount",
        s"${dec("ret_qty * sales_c * tax_pct div 100")} as cr_return_tax",
        s"${dec("ret_qty * sales_c + ret_qty * sales_c * tax_pct div 100")} as cr_return_amt_inc_tax",
        s"${dec("500 + ret_qty * 7")} as cr_fee",
        s"${dec("ret_qty * 250")} as cr_return_ship_cost",
        s"${dec("ret_qty * sales_c * 60 div 100")} as cr_refunded_cash",
        s"${dec("ret_qty * sales_c * 30 div 100")} as cr_reversed_charge",
        s"${dec("ret_qty * sales_c * 10 div 100")} as cr_store_credit",
        s"${dec("500 + ret_qty * 7 + ret_qty * 250 + ret_qty * sales_c * tax_pct div 100")} as cr_net_loss")

  private def webSales(s: SparkSession): DataFrame =
    salesLines(s, 20000L * scale, 3000).selectExpr(
      "sold_date_sk as ws_sold_date_sk",
      "sold_time_sk as ws_sold_time_sk",
      s"cast(sold_date_sk + 2 + ${h(3050, 60, "id, line")} as int) as ws_ship_date_sk",
      "item_sk as ws_item_sk",
      "customer_sk as ws_bill_customer_sk",
      "cdemo_sk as ws_bill_cdemo_sk",
      "hdemo_sk as ws_bill_hdemo_sk",
      "addr_sk as ws_bill_addr_sk",
      s"if(${h(3051, 10)} = 0, 1 + ${h(3052, 5000)}, customer_sk) as ws_ship_customer_sk",
      s"if(${h(3051, 10)} = 0, 1 + ${h(3053, 5600)}, cdemo_sk) as ws_ship_cdemo_sk",
      s"if(${h(3051, 10)} = 0, 1 + ${h(3054, 1200)}, hdemo_sk) as ws_ship_hdemo_sk",
      s"if(${h(3051, 10)} = 0, 1 + ${h(3055, 3000)}, addr_sk) as ws_ship_addr_sk",
      s"cast(1 + ${h(3056, 24)} as int) as ws_web_page_sk",
      s"cast(1 + ${h(3057, 6)} as int) as ws_web_site_sk",
      s"cast(1 + ${h(3058, 20, "id, line")} as int) as ws_ship_mode_sk",
      s"cast(1 + ${h(3059, 6, "id, line")} as int) as ws_warehouse_sk",
      "promo_sk as ws_promo_sk",
      "order_number as ws_order_number",
      "quantity as ws_quantity",
      s"${dec("whole_c")} as ws_wholesale_cost",
      s"${dec("list_c")} as ws_list_price",
      s"${dec("sales_c")} as ws_sales_price",
      s"${dec("quantity * (list_c - sales_c)")} as ws_ext_discount_amt",
      s"${dec("quantity * sales_c")} as ws_ext_sales_price",
      s"${dec("quantity * whole_c")} as ws_ext_wholesale_cost",
      s"${dec("quantity * list_c")} as ws_ext_list_price",
      s"${dec("tax_c")} as ws_ext_tax",
      s"${dec("coupon_c")} as ws_coupon_amt",
      s"${dec("quantity * 150")} as ws_ext_ship_cost",
      s"${dec("quantity * sales_c - coupon_c")} as ws_net_paid",
      s"${dec("quantity * sales_c - coupon_c + tax_c")} as ws_net_paid_inc_tax",
      s"${dec("quantity * sales_c - coupon_c + quantity * 150")} as ws_net_paid_inc_ship",
      s"${dec("quantity * sales_c - coupon_c + tax_c + quantity * 150")} as ws_net_paid_inc_ship_tax",
      s"${dec("quantity * sales_c - coupon_c - quantity * whole_c")} as ws_net_profit")

  private def webReturns(s: SparkSession): DataFrame =
    salesLines(s, 20000L * scale, 3000)
      .where(s"${h(3070, 10, "id, line")} < 2")
      .selectExpr(
        s"cast(sold_date_sk + 10 + ${h(3071, 110, "id, line")} as int) as wr_returned_date_sk",
        s"cast(25200 + ${h(3072, 50000, "id, line")} as int) as wr_returned_time_sk",
        "item_sk as wr_item_sk",
        "customer_sk as wr_refunded_customer_sk",
        "cdemo_sk as wr_refunded_cdemo_sk",
        "hdemo_sk as wr_refunded_hdemo_sk",
        "addr_sk as wr_refunded_addr_sk",
        s"if(${h(3073, 100, "id, line")} < 85, customer_sk, 1 + ${h(3074, 5000, "id, line")}) as wr_returning_customer_sk",
        s"if(${h(3975, 100, "id, line")} < 85, cdemo_sk, 1 + ${h(3075, 5600, "id, line")}) as wr_returning_cdemo_sk",
        s"if(${h(3976, 100, "id, line")} < 85, hdemo_sk, 1 + ${h(3076, 1200, "id, line")}) as wr_returning_hdemo_sk",
        s"if(${h(3977, 100, "id, line")} < 85, addr_sk, 1 + ${h(3077, 3000, "id, line")}) as wr_returning_addr_sk",
        s"cast(1 + ${h(3056, 24)} as int) as wr_web_page_sk",
        s"${nullPct(s"1 + ${h(3078, 36, "id, line")}", 3079, 3, "id, line")} as wr_reason_sk",
        "order_number as wr_order_number",
        s"cast(if(${h(3980, 2, "id, line")} = 0, quantity, 1 + ${h(3080, 100, "id, line")} % quantity) as int) as ret_qty",
        "sales_c", "tax_pct")
      .selectExpr("wr_returned_date_sk", "wr_returned_time_sk", "wr_item_sk",
        "wr_refunded_customer_sk", "wr_refunded_cdemo_sk",
        "wr_refunded_hdemo_sk", "wr_refunded_addr_sk",
        "wr_returning_customer_sk", "wr_returning_cdemo_sk",
        "wr_returning_hdemo_sk", "wr_returning_addr_sk",
        "wr_web_page_sk", "wr_reason_sk", "wr_order_number",
        "ret_qty as wr_return_quantity",
        s"${dec("ret_qty * sales_c")} as wr_return_amt",
        s"${dec("ret_qty * sales_c * tax_pct div 100")} as wr_return_tax",
        s"${dec("ret_qty * sales_c + ret_qty * sales_c * tax_pct div 100")} as wr_return_amt_inc_tax",
        s"${dec("500 + ret_qty * 7")} as wr_fee",
        s"${dec("ret_qty * 250")} as wr_return_ship_cost",
        s"${dec("ret_qty * sales_c * 60 div 100")} as wr_refunded_cash",
        s"${dec("ret_qty * sales_c * 30 div 100")} as wr_reversed_charge",
        s"${dec("ret_qty * sales_c * 10 div 100")} as wr_account_credit",
        s"${dec("500 + ret_qty * 7 + ret_qty * 250 + ret_qty * sales_c * tax_pct div 100")} as wr_net_loss")

  private def build(s: SparkSession, name: String): DataFrame = name match {
    case "call_center"            => callCenter(s)
    case "catalog_page"           => catalogPage(s)
    case "catalog_returns"        => catalogReturns(s)
    case "catalog_sales"          => catalogSales(s)
    case "customer"               => customer(s)
    case "customer_address"       => customerAddress(s)
    case "customer_demographics"  => customerDemographics(s)
    case "date_dim"               => dateDim(s)
    case "household_demographics" => householdDemographics(s)
    case "income_band"            => incomeBand(s)
    case "inventory"              => inventory(s)
    case "item"                   => item(s)
    case "promotion"              => promotion(s)
    case "reason"                 => reason(s)
    case "ship_mode"              => shipMode(s)
    case "store"                  => store(s)
    case "store_returns"          => storeReturns(s)
    case "store_sales"            => storeSales(s)
    case "time_dim"               => timeDim(s)
    case "warehouse"              => warehouse(s)
    case "web_page"               => webPage(s)
    case "web_returns"            => webReturns(s)
    case "web_sales"              => webSales(s)
    case "web_site"               => webSite(s)
  }

  /** Generate all tables under `dir` if not already present; returns dir.
    * `synchronized` serializes threads within one JVM; an OS FileLock
    * serializes ACROSS JVMs (r7 ADVICE: sbt test and a concurrent
    * Verify run could both see the missing marker and write the dir
    * under each other). The marker file is written LAST, so a crashed
    * half-finished dir regenerates, and the second process re-checks
    * the marker after acquiring the lock instead of rewriting. */
  def ensure(s: SparkSession): String = synchronized {
    val root = new java.io.File(dir)
    root.mkdirs()
    val marker = new java.io.File(root, "_graft_ok")
    if (marker.exists()) return dir
    val ch = java.nio.channels.FileChannel.open(
      new java.io.File(root, "_graft_lock").toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      // FileLock is held per-JVM: if a second classloader in the same JVM
      // (sbt's layered classloaders) reaches here while the first holds
      // the lock, lock() throws instead of blocking — fall back to
      // polling for the marker the holder writes last (r8 ADVICE).
      val lock =
        try ch.lock() // blocks until a concurrent generator finishes
        catch {
          case _: java.nio.channels.OverlappingFileLockException =>
            while (!marker.exists()) Thread.sleep(200)
            return dir
        }
      try {
        if (!marker.exists()) {
          tables.foreach { t =>
            // single output file per table: small data; DuckDB reads the
            // same files via read_parquet('<dir>/<t>.parquet/*.parquet')
            build(s, t).coalesce(1).write.mode("overwrite")
              .parquet(s"$dir/$t.parquet")
          }
          marker.createNewFile()
        }
      } finally lock.release()
    } finally ch.close()
    dir
  }
}
