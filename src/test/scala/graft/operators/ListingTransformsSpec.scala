package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Canonical listing transforms against representative raw documents
  * (FIXTURES.md §3 shapes, unit vectors §4). */
class ListingTransformsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val ref = to_timestamp(lit("2025-10-21 12:00:00"))

  private val divarJson =
    """{
      | "analytics": {"cat2": "residential-sell", "cat3": "apartment-sell", "city": "tehran"},
      | "webengage": {"district": "vanak", "business_type": "personal", "credit": 0, "rent": 0},
      | "seo": {"post_seo_schema": {"description": "توضیح سئو",
      |   "geo": {"latitude": "35.75", "longitude": "51.41"},
      |   "image": ["http://img/1.jpg", "http://img/2.jpg"]}},
      | "share": {"title": "آپارتمان ۱۲۰ متری"},
      | "city": {"second_slug": "tehran2"},
      | "sections": [
      |  {"section_name": "TITLE", "widgets": [
      |    {"widget_type": "LEGEND_TITLE_ROW", "data": {"subtitle": "۲ روز پیش در تهران"}}]},
      |  {"section_name": "BREADCRUMB", "widgets": [
      |    {"widget_type": "BREADCRUMB", "data": {"current_page_title": "فروش مقطوع آپارتمان"}}]},
      |  {"section_name": "DESCRIPTION", "widgets": [
      |    {"widget_type": "DESCRIPTION_ROW", "data": {"text": "واحد ۳ از ۷ با امکانات"}}]},
      |  {"section_name": "LIST_DATA", "widgets": [
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "قیمت کل", "value": "۱۲۳۰۰۰ تومان"}},
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "سند", "value": "تک‌برگ"}},
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "طبقه", "value": "۳ از ۵"}},
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "نوع ملک", "value": "ویلای ساحلی"}},
      |    {"widget_type": "GROUP_INFO_ROW", "data": {"items": [
      |      {"title": "متراژ", "value": "۱۲۰"},
      |      {"title": "اتاق", "value": "بدون اتاق"},
      |      {"title": "ساخت", "value": "قبل از ۱۳۷۰"}]}},
      |    {"widget_type": "GROUP_FEATURE_ROW", "data": {
      |      "items": [
      |        {"title": "آسانسور", "available": true},
      |        {"title": "پارکینگ ندارد"}],
      |      "action": {"payload": {"modal_page": {"widget_list": [
      |        {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "تعداد واحد در طبقه", "value": "بیشتر از ۴"}},
      |        {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "جهت ساختمان", "value": "شمالی"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "گرمایش شوفاژ"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "سرمایش کولر آبی"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "جنس کف سرامیک"}}]}}}}}]},
      |  {"section_name": "IMAGE", "widgets": [
      |    {"widget_type": "IMAGE_CAROUSEL", "data": {"items": [
      |      {"image": {"url": "http://img/2.jpg"}},
      |      {"image": {"url": "http://img/3.jpg"}}]}}]}
      | ]}""".stripMargin

  private lazy val divarOut: Row = ListingTransforms.divarTransform(
    Seq(("https://divar.ir/v/x", divarJson)).toDF("url", "raw"),
    "raw", "url", ref).collect()(0)

  test("divar: slugs, user type, title, created_at_month from subtitle") {
    assert(divarOut.getAs[String]("cat3_slug") === "apartment-sell")
    assert(divarOut.getAs[String]("city_slug") === "tehran")
    assert(divarOut.getAs[String]("neighborhood_slug") === "vanak")
    assert(divarOut.getAs[String]("user_type") === "شخصی")
    assert(divarOut.getAs[String]("title") === "آپارتمان ۱۲۰ متری")
    // "۲ روز پیش" before " در " → ref − 2 days
    assert(divarOut.getAs[java.sql.Timestamp]("created_at_month").toString
      .startsWith("2025-10-19 12:00:00"))
  }

  // the common real divar payload: "ودیعه"/"اجارهٔ ماهانه" amounts in
  // Persian digits. Python's isdigit()/float() parse them
  // (divar_transformer.py:232-239), so they must NOT fall through to
  // the webengage fallback (credit=999 here would betray that).
  private val rentJson =
    """{
      | "analytics": {"cat2": "residential-rent", "cat3": "apartment-rent", "city": "tehran"},
      | "webengage": {"district": "vanak", "business_type": "personal",
      |   "credit": 999, "rent": 888},
      | "share": {"title": "اجاره"},
      | "sections": [
      |  {"section_name": "LIST_DATA", "widgets": [
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "ودیعه", "value": "‏۵۰۰۰۰۰ تومان"}},
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "اجارهٔ ماهانه", "value": "۲۵۰۰۰ تومان"}}]}
      | ]}""".stripMargin

  private val rentNonNumericJson =
    """{
      | "analytics": {"cat2": "residential-rent", "cat3": "apartment-rent", "city": "tehran"},
      | "webengage": {"district": "vanak", "business_type": "personal",
      |   "credit": 7000, "rent": 0},
      | "share": {"title": "اجاره"},
      | "sections": [
      |  {"section_name": "LIST_DATA", "widgets": [
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "ودیعه", "value": "توافقی"}}]}
      | ]}""".stripMargin

  private def sliderJson(tc: Long, tr: Long) =
    s"""{
       | "analytics": {"cat2": "residential-rent", "cat3": "apartment-rent", "city": "tehran"},
       | "webengage": {"district": "vanak", "business_type": "personal", "credit": 0, "rent": 0},
       | "share": {"title": "اجاره"},
       | "sections": [
       |  {"section_name": "LIST_DATA", "widgets": [
       |    {"widget_type": "RENT_SLIDER", "data": {
       |      "credit": {"value": 500000, "transformed_value": $tc},
       |      "rent": {"value": 25000, "transformed_value": $tr}}}]}
       | ]}""".stripMargin

  private def geoJson(seoGeo: String) =
    s"""{
       | "analytics": {"cat2": "c", "cat3": "c", "city": "tehran"},
       | "webengage": {"district": "d", "business_type": "personal", "credit": 0, "rent": 0},
       | "share": {"title": "t"},
       | "seo": {"post_seo_schema": {"description": "x", "geo": $seoGeo}},
       | "sections": [
       |  {"section_name": "MAP", "widgets": [
       |    {"widget_type": "MAP_ROW", "data": {"location": {
       |      "fuzzy_data": {"point": {"latitude": "35.10", "longitude": "51.10"},
       |                     "radius": "500"}}}}]}
       | ]}""".stripMargin

  test("divar: fallback money rows parse Persian digits (no slider)") {
    val row = ListingTransforms.divarTransform(
      Seq(("https://divar.ir/v/rent", rentJson)).toDF("url", "raw"),
      "raw", "url", ref).collect()(0)
    assert(row.getAs[Double]("credit_value") === 500000.0)
    assert(row.getAs[Double]("rent_value") === 25000.0)
    assert(row.getAs[String]("rent_type") === "rent_credit")
    assert(row.getAs[String]("credit_mode") === "مقطوع")
  }

  test("divar: non-numeric fallback money row falls through to webengage") {
    val row = ListingTransforms.divarTransform(
      Seq(("https://divar.ir/v/rent2", rentNonNumericJson)).toDF("url", "raw"),
      "raw", "url", ref).collect()(0)
    assert(row.getAs[Double]("credit_value") === 7000.0)
    assert(row.isNullAt(row.fieldIndex("rent_value")))
  }

  test("divar: slider branch — money fields, مجانی mode, transformable quirk") {
    val rows = ListingTransforms.divarTransform(
      Seq(("u-t", sliderJson(600000L, 26000L)), ("u-f", sliderJson(0L, 0L)))
        .toDF("url", "raw"), "raw", "url", ref).orderBy("content_url").collect()
    val t = rows(1); val f = rows(0) // u-t sorts after u-f
    assert(t.getAs[Double]("credit_value") === 500000.0)
    assert(t.getAs[Double]("rent_value") === 25000.0)
    assert(t.getAs[Double]("transformed_credit") === 600000.0)
    assert(t.getAs[String]("rent_mode") === "مجانی") // has_* hard-coded False
    assert(t.getAs[String]("rent_type") === "rent_credit")
    assert(t.getAs[Boolean]("rent_credit_transform") === true)
    // reference quirk: bool(True) → float('') → None in the numeric
    // pass, bool(False) survives — truthy transformed → NULL
    assert(t.isNullAt(t.fieldIndex("transformable_credit")))
    assert(f.getAs[Boolean]("transformable_credit") === false)
    assert(f.isNullAt(f.fieldIndex("rent_type"))) // no transform → None
    assert(f.getAs[Boolean]("rent_credit_transform") === false)
  }

  test("divar: MAP geo (incl. radius) only consulted when seo geo is incomplete") {
    val rows = ListingTransforms.divarTransform(
      Seq(("u-full", geoJson("""{"latitude": "35.75", "longitude": "51.41"}""")),
          ("u-miss", geoJson("""{"latitude": "35.75", "longitude": ""}""")))
        .toDF("url", "raw"), "raw", "url", ref).orderBy("content_url").collect()
    val full = rows(0); val miss = rows(1)
    // complete seo geo → map branch never entered → radius stays null
    assert(full.getAs[Double]("location_latitude") === 35.75)
    assert(full.isNullAt(full.fieldIndex("location_radius")))
    // empty-string lon is FALSY (Python `not lon`) → map consulted: the
    // fuzzy point overwrites BOTH coordinates (seo survives only when
    // the map value is itself falsy), and radius is set
    assert(miss.getAs[Double]("location_latitude") === 35.10)
    assert(miss.getAs[Double]("location_longitude") === 51.10)
    assert(miss.getAs[Double]("location_radius") === 500.0)
  }

  test("divar: price block (no slider → fallback branch)") {
    assert(divarOut.getAs[String]("price_mode") === "مقطوع")
    assert(divarOut.getAs[Long]("price_value") === 123000L)
    // webengage credit/rent are 0 (falsy) → no credit/rent values
    assert(divarOut.isNullAt(divarOut.fieldIndex("credit_value")))
    // has_credit=false, has_rent=false → else-branch "rent_credit"
    assert(divarOut.getAs[String]("rent_type") === "rent_credit")
    assert(divarOut.isNullAt(divarOut.fieldIndex("credit_mode")))
  }

  test("divar: physical fields incl. regex floor + description fallback") {
    assert(divarOut.getAs[Double]("building_size") === 120.0)
    assert(divarOut.getAs[String]("deed_type") === "single_page")
    assert(divarOut.getAs[Int]("floor") === 3)
    assert(divarOut.getAs[Int]("total_floors_count") === 5)
    assert(divarOut.getAs[Int]("rooms_count") === 0)       // "بدون اتاق" → 0
    assert(divarOut.getAs[Int]("unit_per_floor") === 5)    // "بیشتر از ۴" → 5
    assert(divarOut.getAs[Int]("construction_year") === -1370)
    assert(divarOut.getAs[String]("property_type") === "beach")
  }

  test("divar: tri-state features + enum maps") {
    assert(divarOut.getAs[Boolean]("has_elevator") === true)
    assert(divarOut.getAs[Boolean]("has_parking") === false) // "ندارد"
    assert(divarOut.isNullAt(divarOut.fieldIndex("has_pool"))) // absent → null
    assert(divarOut.getAs[String]("building_direction") === "north")
    assert(divarOut.getAs[String]("has_heating_system") === "shoofaj")
    assert(divarOut.getAs[String]("has_cooling_system") === "water_cooler")
    assert(divarOut.getAs[String]("floor_material") === "ceramic")
  }

  test("divar: images order-preserving distinct, geo from seo") {
    val imgs = divarOut.getSeq[String](divarOut.fieldIndex("images"))
    assert(imgs.toSeq === Seq("http://img/1.jpg", "http://img/2.jpg", "http://img/3.jpg"))
    assert(divarOut.getAs[Double]("location_latitude") === 35.75)
    assert(divarOut.getAs[Double]("location_longitude") === 51.41)
  }

  private val sheypoorJson =
    """{
      | "attributes": {
      |   "title": "رهن آپارتمان",
      |   "url": "https://sheypoor.com/v/abc",
      |   "location": "تهران، ونک",
      |   "timePassedLabel": "ساعاتی پیش",
      |   "categories": [{"name": "املاک"}, {"name": "رهن و اجاره"}],
      |   "price": [{"label": "رهن", "amount": "۲۵۰٬۰۰۰٬۰۰۰"}],
      |   "images": {"thumbnails": {"round": "http://img/t.jpg"}}},
      | "fullAttributes": [
      |   {"key": "متراژ", "value": "۸۵ متر"},
      |   {"key": "طبقه ملک", "value": "3"},
      |   {"key": "تعداد اتاق", "value": "2"},
      |   {"key": "آسانسور", "value": "دارد"},
      |   {"key": "سال ساخت بنا", "value": "1395"},
      |   {"key": "قابلیت تبدیل مبلغ رهن و اجاره", "value": "true"}],
      | "geo": {"lat": 35.7, "lon": 51.4},
      | "description": "توضیحات"}""".stripMargin

  private lazy val sheypoorOut: Row = ListingTransforms.sheypoorTransform(
    Seq(("https://sheypoor.com/v/abc", sheypoorJson)).toDF("url", "raw"),
    "raw", "url", ref).collect()(0)

  test("sheypoor: slugs, breadcrumb, relative date, credit price path") {
    assert(sheypoorOut.getAs[String]("cat2_slug") === "املاک")
    assert(sheypoorOut.getAs[String]("city_slug") === "تهران")
    assert(sheypoorOut.getAs[String]("neighborhood_slug") === "ونک")
    assert(sheypoorOut.getAs[String]("bread_crumb") === "املاک/رهن و اجاره")
    // "ساعاتی پیش" → ref − 2h
    assert(sheypoorOut.getAs[java.sql.Timestamp]("created_at_month").toString
      .startsWith("2025-10-21 10:00:00"))
    assert(sheypoorOut.getAs[Double]("credit_value") === 250000000.0)
    assert(sheypoorOut.getAs[String]("credit_mode") === "مقطوع")
    assert(sheypoorOut.getAs[String]("rent_type") === "full_credit")
    assert(sheypoorOut.isNullAt(sheypoorOut.fieldIndex("price_value")))
  }

  test("sheypoor: attributes, facilities, transform flag") {
    assert(sheypoorOut.getAs[Double]("building_size") === 85.0)
    assert(sheypoorOut.getAs[Int]("floor") === 3)
    assert(sheypoorOut.getAs[Int]("rooms_count") === 2)
    assert(sheypoorOut.getAs[Boolean]("has_elevator") === true)
    assert(sheypoorOut.isNullAt(sheypoorOut.fieldIndex("has_parking"))) // absent attr → null
    assert(sheypoorOut.getAs[Int]("construction_year") === 1395)
    assert(sheypoorOut.getAs[Boolean]("rent_credit_transform") === true)
    assert(sheypoorOut.getSeq[String](sheypoorOut.fieldIndex("images")).toSeq ===
      Seq("http://img/t.jpg"))
  }

  test("sheypoor: Persian-digit attrs parse like Python isdigit()/int()") {
    // sheypoor_transformer.py:193-210 gates with isdigit() then int() —
    // both accept Persian digits, so "۳" must become 3, not null.
    val json = sheypoorJson
      .replace("\"value\": \"3\"", "\"value\": \"۳\"")
      .replace("\"value\": \"2\"", "\"value\": \"۲\"")
      .replace("\"value\": \"1395\"", "\"value\": \"۱۳۹۵\"")
    val row = ListingTransforms.sheypoorTransform(
      Seq(("https://sheypoor.com/v/fa", json)).toDF("url", "raw"),
      "raw", "url", ref).collect()(0)
    assert(row.getAs[Int]("floor") === 3)
    assert(row.getAs[Int]("rooms_count") === 2)
    assert(row.getAs[Int]("construction_year") === 1395)
  }

  private val mrestateJson =
    """{"pageProps": {"data": {
      | "breadcrumb": [{"name": "خانه"}, {"name": "خرید آپارتمان در تهران"}, {"name": "ونک"}],
      | "data": {
      |   "city": "تهران", "neighbourhood": "ونک",
      |   "date_publish": "2025-09-15T10:30:00Z",
      |   "creator_properties": {"real_estate": "املاک X", "consultant": null},
      |   "is_owner": false,
      |   "more_description": "توضیح", "title": "آپارتمان ۱۰۰ متری",
      |   "price_rent": null, "price_sell": 9500000000, "price_mortgage": null,
      |   "area": 100.0, "num_bedrooms": 2,
      |   "year_constructed": "۱۴۰۰",
      |   "latitude": 35.76, "longitude": 51.42,
      |   "list_image": [{"url": "/media/a.jpg"}, {"url": "http://x/b.jpg"}],
      |   "more_details": {"floor": "4", "balcony": true, "elevator": true,
      |     "storeHouse": false, "parking": 2, "security": true,
      |     "pool": false, "jacuzzi": null, "sauna": null}}}}}""".stripMargin

  private lazy val mrestateOut: Row = ListingTransforms.mrestateTransform(
    Seq(("https://mrestate.ir/p/1", mrestateJson)).toDF("url", "raw"),
    "raw", "url", ref).collect()(0)

  test("mrestate: breadcrumb cats, user type, ISO date, prices") {
    assert(mrestateOut.getAs[String]("cat2_slug") === "خرید")
    assert(mrestateOut.getAs[String]("cat3_slug") === "آپارتمان")
    assert(mrestateOut.getAs[String]("user_type") === "مشاور املاک")
    assert(mrestateOut.getAs[java.sql.Timestamp]("created_at_month").toString
      .startsWith("2025-09-15 10:30:00"))
    assert(mrestateOut.getAs[Long]("price_value") === 9500000000L)
    assert(mrestateOut.isNullAt(mrestateOut.fieldIndex("rent_type")))
    assert(mrestateOut.isNullAt(mrestateOut.fieldIndex("price_mode"))) // prices present → no توافقی
  }

  test("mrestate: more_details features, media URL prefixing, breadcrumb join") {
    assert(mrestateOut.getAs[Int]("floor") === 4)
    assert(mrestateOut.getAs[Int]("rooms_count") === 2)
    assert(mrestateOut.getAs[Int]("construction_year") === 1400) // Persian digits
    assert(mrestateOut.getAs[Boolean]("has_parking") === true)   // 2 > 0
    assert(mrestateOut.getAs[Boolean]("has_warehouse") === false)
    assert(mrestateOut.isNullAt(mrestateOut.fieldIndex("has_jacuzzi")))
    assert(mrestateOut.getSeq[String](mrestateOut.fieldIndex("images")).toSeq ===
      Seq("https://mrestate.ir/media/a.jpg", "http://x/b.jpg"))
    assert(mrestateOut.getAs[String]("bread_crumb") ===
      "خانه\n/\nخرید آپارتمان در تهران\n/\nونک\n/")
  }

  test("mrestate: empty-string names/urls are skipped like Python truthiness") {
    // `if b.get("name")` / `if url:` skip "" as well as null
    // (mrestate_transformer.py:216-227)
    val json = mrestateJson
      .replace("""[{"name": "خانه"}""", """[{"name": ""}, {"name": "خانه"}""")
      .replace("""{"url": "/media/a.jpg"}""", """{"url": ""}, {"url": "/media/a.jpg"}""")
    val row = ListingTransforms.mrestateTransform(
      Seq(("https://mrestate.ir/p/2", json)).toDF("url", "raw"),
      "raw", "url", ref).collect()(0)
    // the empty-name crumb is dropped from the join but NOT from the
    // positional [1] lookup — cat2 comes from breadcrumb[1] = "خانه" now
    assert(row.isNullAt(row.fieldIndex("cat2_slug")))
    assert(row.getAs[String]("bread_crumb") ===
      "خانه\n/\nخرید آپارتمان در تهران\n/\nونک\n/")
    assert(row.getSeq[String](row.fieldIndex("images")).toSeq ===
      Seq("https://mrestate.ir/media/a.jpg", "http://x/b.jpg"))
  }

  test("kilid envelope: typed fields + HTML passthrough") {
    val json =
      """{"content_url": "https://kilid.com/1", "html_content": "<html>x</html>",
        | "status_code": 200, "fetched_at": "2025-10-01T00:00:00",
        | "listingType": "BUY", "propertyType": "RESIDENTIAL", "landuseType": "APARTMENT"}""".stripMargin
    val out = ListingTransforms.kilidEnvelope(
      Seq(json).toDF("raw"), "raw").collect()(0)
    assert(out.getAs[String]("cat1_slug") === "BUY")
    assert(out.getAs[Int]("status_code") === 200)
    assert(out.getAs[String]("html_content") === "<html>x</html>")
  }

  test("malformed JSON survives as null row, not an exception") {
    val out = ListingTransforms.divarTransform(
      Seq(("u1", "{not json")).toDF("url", "raw"), "raw", "url", ref).collect()(0)
    assert(out.getAs[String]("content_url") === "u1")
    assert(out.isNullAt(out.fieldIndex("title")))
  }

  // ------------------------------------------------------- golden rows
  // Every output column of every document above, pinned: the schema
  // (name, type, order) and each row's non-null values — a column
  // missing from a golden block must be null. A restructured transform
  // has to reproduce these rows exactly.

  /** Second divar document: the modal list overrides the group pass
    * (text-only title, "ندارد", enum vs bool writes, last match wins),
    * deed and unit-per-floor from the modal, ground floor, total floors
    * from the description, repeated rows where the LAST one wins. */
  private val divarModalJson =
    """{
      | "analytics": {"cat2": "residential-sell", "cat3": "apartment-sell", "city": "karaj"},
      | "webengage": {"district": "gohardasht", "business_type": "premium-panel", "credit": 0, "rent": 0},
      | "seo": {"post_seo_schema": {"description": "", "geo": {"lat": "35.8", "lng": "50.9"}}},
      | "share": {"title": ""},
      | "city": {"second_slug": "karaj2"},
      | "sections": [
      |  {"section_name": "TITLE", "widgets": [
      |    {"widget_type": "LEGEND_TITLE_ROW", "data": {"subtitle": ""}}]},
      |  {"section_name": "BREADCRUMB", "widgets": [
      |    {"widget_type": "BREADCRUMB", "data": {"current_page_title": "فروش توافقی"}}]},
      |  {"section_name": "DESCRIPTION", "widgets": [
      |    {"widget_type": "DESCRIPTION_ROW", "data": {"text": "طبقه ۲ از ۴"}}]},
      |  {"section_name": "LIST_DATA", "widgets": [
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "طبقه", "value": "همکف"}},
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "متراژ زمین", "value": "۲۰۰"}},
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "نوع ملک", "value": "سایر"}},
      |    {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "نوع ملک", "value": "ویلای جنگلی"}},
      |    {"widget_type": "GROUP_INFO_ROW", "data": {"items": [
      |      {"title": "متراژ", "value": "۹۰"},
      |      {"title": "اتاق", "value": "+۴"}]}},
      |    {"widget_type": "GROUP_INFO_ROW", "data": {"items": [
      |      {"title": "ساخت", "value": "۱۳۹۰"},
      |      {"title": "ساخت", "value": "۱۳۹۸"}]}},
      |    {"widget_type": "GROUP_FEATURE_ROW", "data": {
      |      "items": [
      |        {"title": "بالکن", "available": true},
      |        {"title": "انباری"},
      |        {"title": "آسانسور ندارد"},
      |        {"title": "نگهبان", "available": false},
      |        {"title": "گرمایش داکت اسپلیت"}],
      |      "action": {"payload": {"modal_page": {"widget_list": [
      |        {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "سند", "value": "قول‌نامه‌ای"}},
      |        {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "تعداد واحد در طبقه", "value": "۲"}},
      |        {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "وضعیت واحد", "value": "بازسازی شده"}},
      |        {"widget_type": "UNEXPANDABLE_ROW", "data": {"title": "جهت ساختمان", "value": "شمال‌غربی"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "", "text": "آسانسور"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "بالکن ندارد"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "سرمایش کولر گازی"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "سرمایش داکت اسپلیت"}},
      |        {"widget_type": "GROUP_ROW", "data": {"title": "گرمایش شوفاژ"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "تأمین‌کننده آب گرم پکیج"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "سرویس بهداشتی ایرانی و فرنگی"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "جنس کف نامعلوم"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"text": "استخر ندارد"}},
      |        {"widget_type": "FEATURE_ROW", "data": {"title": "سونا"}}]}}}}}]},
      |  {"section_name": "IMAGE", "widgets": [
      |    {"widget_type": "IMAGE_CAROUSEL", "data": {"items": [
      |      {"image": {"url": ""}},
      |      {"image": {"url": "http://img/9.jpg"}}]}}]}
      | ]}""".stripMargin

  /** One value as the golden blocks spell it; newlines escaped. */
  private def render(v: Any): String = v match {
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case x => x.toString.replace("\n", "\\n")
  }

  /** `column = value` per non-null column, keyed by content_url. */
  private def renderRows(df: DataFrame): Map[String, Map[String, String]] =
    df.collect().map { r =>
      r.getAs[String]("content_url") -> df.columns.indices.collect {
        case i if !r.isNullAt(i) => df.columns(i) -> render(r.get(i))
      }.toMap
    }.toMap

  private def golden(block: String): Map[String, String] =
    block.stripMargin.trim.linesIterator.map { l =>
      val i = l.indexOf('=')
      l.take(i).trim -> l.drop(i + 1).trim
    }.toMap

  private def schemaOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name} ${f.dataType.simpleString}").mkString("\n")

  /** divar's output schema, `name type` per column in order; sheypoor
    * and mrestate emit the same columns plus `bread_crumb`. */
  private val divarGoldenSchema =
    """
      |content_url string
      |created_at timestamp
      |cat2_slug string
      |cat3_slug string
      |city_slug string
      |neighborhood_slug string
      |created_at_month timestamp
      |user_type string
      |description string
      |title string
      |rent_mode string
      |rent_value double
      |rent_to_single string
      |rent_type string
      |price_mode string
      |price_value bigint
      |credit_mode string
      |credit_value double
      |rent_credit_transform boolean
      |transformable_price boolean
      |transformable_credit boolean
      |transformed_credit double
      |transformable_rent boolean
      |transformed_rent double
      |land_size double
      |building_size double
      |deed_type string
      |has_business_deed boolean
      |floor int
      |rooms_count int
      |total_floors_count int
      |unit_per_floor int
      |has_balcony boolean
      |has_elevator boolean
      |has_warehouse boolean
      |has_parking boolean
      |construction_year int
      |is_rebuilt boolean
      |has_water boolean
      |has_warm_water_provider string
      |has_electricity boolean
      |has_gas boolean
      |has_heating_system string
      |has_cooling_system string
      |has_restroom string
      |has_security_guard boolean
      |has_barbecue boolean
      |building_direction string
      |has_pool boolean
      |has_jacuzzi boolean
      |has_sauna boolean
      |floor_material string
      |property_type string
      |regular_person_capacity int
      |extra_person_capacity int
      |cost_per_extra_person bigint
      |rent_price_on_regular_days bigint
      |rent_price_on_special_days bigint
      |rent_price_at_weekends bigint
      |location_latitude double
      |location_longitude double
      |location_radius double
      |images array<string>"""

  private val siteGoldenSchema = divarGoldenSchema + "\n      |bread_crumb string"

  private def assertGolden(df: DataFrame, schema: String,
                           expected: Map[String, Map[String, String]]): Unit = {
    val actual = renderRows(df)
    assert(schemaOf(df) === schema.stripMargin.trim)
    assert(actual.keySet === expected.keySet)
    for ((url, want) <- expected) {
      val got = actual(url)
      def block = df.columns.filter(got.contains)
        .map(c => s"      |$c = ${got(c)}").mkString("\n")
      assert(got === want, s"golden row $url differs; actual:\n$block")
    }
  }

  test("divar golden rows: every output column of every document") {
    val docs = Seq(
      "https://divar.ir/v/x" -> divarJson,
      "https://divar.ir/v/modal" -> divarModalJson,
      "https://divar.ir/v/rent" -> rentJson,
      "https://divar.ir/v/rent2" -> rentNonNumericJson,
      "u-t" -> sliderJson(600000L, 26000L),
      "u-f" -> sliderJson(0L, 0L),
      "u-full" -> geoJson("""{"latitude": "35.75", "longitude": "51.41"}"""),
      "u-miss" -> geoJson("""{"latitude": "35.75", "longitude": ""}"""),
      "u1" -> "{not json")
    val out = ListingTransforms.divarTransform(docs.toDF("url", "raw"), "raw", "url", ref)
    assertGolden(out, divarGoldenSchema, Map(
      "https://divar.ir/v/x" -> golden("""
      |content_url = https://divar.ir/v/x
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = residential-sell
      |cat3_slug = apartment-sell
      |city_slug = tehran
      |neighborhood_slug = vanak
      |created_at_month = 2025-10-19 12:00:00.0
      |user_type = شخصی
      |description = توضیح سئو
      |title = آپارتمان ۱۲۰ متری
      |rent_type = rent_credit
      |price_mode = مقطوع
      |price_value = 123000
      |building_size = 120.0
      |deed_type = single_page
      |floor = 3
      |rooms_count = 0
      |total_floors_count = 5
      |unit_per_floor = 5
      |has_elevator = true
      |has_parking = false
      |construction_year = -1370
      |has_water = true
      |has_heating_system = shoofaj
      |has_cooling_system = water_cooler
      |building_direction = north
      |floor_material = ceramic
      |property_type = beach
      |location_latitude = 35.75
      |location_longitude = 51.41
      |images = [http://img/1.jpg, http://img/2.jpg, http://img/3.jpg]"""),
      "https://divar.ir/v/modal" -> golden("""
      |content_url = https://divar.ir/v/modal
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = residential-sell
      |cat3_slug = apartment-sell
      |city_slug = karaj
      |neighborhood_slug = gohardasht
      |user_type = مشاور املاک
      |rent_type = rent_credit
      |price_mode = توافقی
      |land_size = 200.0
      |building_size = 90.0
      |deed_type = written_agreement
      |floor = 0
      |rooms_count = 5
      |total_floors_count = 4
      |unit_per_floor = 2
      |has_balcony = false
      |has_elevator = true
      |has_warehouse = true
      |construction_year = 1398
      |is_rebuilt = true
      |has_water = true
      |has_warm_water_provider = package
      |has_gas = true
      |has_heating_system = true
      |has_cooling_system = duct_split
      |has_restroom = squat_seat
      |has_security_guard = false
      |building_direction = unselect
      |has_pool = false
      |has_sauna = true
      |floor_material = unselect
      |property_type = jungle
      |location_latitude = 35.8
      |location_longitude = 50.9
      |images = [http://img/9.jpg]"""),
      "https://divar.ir/v/rent" -> golden("""
      |content_url = https://divar.ir/v/rent
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = residential-rent
      |cat3_slug = apartment-rent
      |city_slug = tehran
      |neighborhood_slug = vanak
      |user_type = شخصی
      |title = اجاره
      |rent_value = 25000.0
      |rent_type = rent_credit
      |credit_mode = مقطوع
      |credit_value = 500000.0
      |images = []"""),
      "https://divar.ir/v/rent2" -> golden("""
      |content_url = https://divar.ir/v/rent2
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = residential-rent
      |cat3_slug = apartment-rent
      |city_slug = tehran
      |neighborhood_slug = vanak
      |user_type = شخصی
      |title = اجاره
      |rent_type = full_credit
      |credit_mode = مقطوع
      |credit_value = 7000.0
      |images = []"""),
      "u-t" -> golden("""
      |content_url = u-t
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = residential-rent
      |cat3_slug = apartment-rent
      |city_slug = tehran
      |neighborhood_slug = vanak
      |user_type = شخصی
      |title = اجاره
      |rent_mode = مجانی
      |rent_value = 25000.0
      |rent_type = rent_credit
      |credit_value = 500000.0
      |rent_credit_transform = true
      |transformable_price = true
      |transformed_credit = 600000.0
      |transformed_rent = 26000.0
      |images = []"""),
      "u-f" -> golden("""
      |content_url = u-f
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = residential-rent
      |cat3_slug = apartment-rent
      |city_slug = tehran
      |neighborhood_slug = vanak
      |user_type = شخصی
      |title = اجاره
      |rent_mode = مجانی
      |rent_value = 25000.0
      |credit_value = 500000.0
      |rent_credit_transform = false
      |transformable_price = false
      |transformable_credit = false
      |transformable_rent = false
      |images = []"""),
      "u-full" -> golden("""
      |content_url = u-full
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = c
      |cat3_slug = c
      |city_slug = tehran
      |neighborhood_slug = d
      |user_type = شخصی
      |description = x
      |title = t
      |rent_type = rent_credit
      |location_latitude = 35.75
      |location_longitude = 51.41
      |images = []"""),
      "u-miss" -> golden("""
      |content_url = u-miss
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = c
      |cat3_slug = c
      |city_slug = tehran
      |neighborhood_slug = d
      |user_type = شخصی
      |description = x
      |title = t
      |rent_type = rent_credit
      |location_latitude = 35.1
      |location_longitude = 51.1
      |location_radius = 500.0
      |images = []"""),
      "u1" -> golden("""
      |content_url = u1
      |created_at = 2025-10-21 12:00:00.0
      |rent_type = rent_credit
      |images = []""")))
  }

  test("mrestate golden row: a malformed date_publish nulls created_at_month only") {
    val doc = mrestateJson.replace("2025-09-15T10:30:00Z", "not a date")
    val out = ListingTransforms.mrestateTransform(
      Seq(("https://mrestate.ir/p/bad-date", doc)).toDF("url", "raw"), "raw", "url", ref)
    assertGolden(out, siteGoldenSchema, Map(
      "https://mrestate.ir/p/bad-date" -> golden("""
      |content_url = https://mrestate.ir/p/bad-date
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = خرید
      |cat3_slug = آپارتمان
      |city_slug = تهران
      |neighborhood_slug = ونک
      |user_type = مشاور املاک
      |description = توضیح
      |title = آپارتمان ۱۰۰ متری
      |price_value = 9500000000
      |building_size = 100.0
      |floor = 4
      |rooms_count = 2
      |has_balcony = true
      |has_elevator = true
      |has_warehouse = false
      |has_parking = true
      |construction_year = 1400
      |has_security_guard = true
      |has_pool = false
      |location_latitude = 35.76
      |location_longitude = 51.42
      |images = [https://mrestate.ir/media/a.jpg, http://x/b.jpg]
      |bread_crumb = خانه\n/\nخرید آپارتمان در تهران\n/\nونک\n/""")))
  }

  test("divar: analyzed plan stays under 6,000 expression nodes") {
    // every Column value referenced more than once is inlined at each
    // reference; with the shared subexpressions inlined the analyzed
    // plan held 23k nodes, re-analyzed per call and re-optimized per
    // streaming micro-batch. Staged, it holds about 3k.
    val plan = ListingTransforms.divarTransform(
      Seq(("u", "{}")).toDF("url", "raw"), "raw", "url", ref).queryExecution.analyzed
    var nodes = 0L
    plan.foreach(_.expressions.foreach(_.foreach(_ => nodes += 1)))
    assert(nodes <= 6000, s"divarTransform's analyzed plan has $nodes expression nodes")
  }

  private val sheypoorRentJson =
    """{
      | "attributes": {
      |   "title": "",
      |   "location": "کرج",
      |   "timePassedLabel": "۳ روز پیش",
      |   "categories": [{"name": "املاک"}],
      |   "price": [{"label": " اجاره ", "amount": "۱۵٬۰۰۰٬۰۰۰ تومان"}]},
      | "fullAttributes": [
      |   {"key": "نوع سند", "value": "تجاری"},
      |   {"key": "نوع ملک", "value": ""},
      |   {"key": "پارکینگ", "value": "دارد"},
      |   {"key": "انباری", "value": "ندارد"},
      |   {"key": "طبقه ملک", "value": "همکف"},
      |   {"key": "تعداد واحد در طبقه", "value": "۴"}]}""".stripMargin

  private val sheypoorSellJson =
    """{
      | "attributes": {
      |   "title": "فروش ویلا",
      |   "location": "رشت، گلسار، خیابان ۱",
      |   "categories": [{"name": ""}, {"name": "ویلا"}],
      |   "price": [{"amount": "1200000000"}, {"label": "رهن", "amount": "5"}]},
      | "fullAttributes": [{"key": "نوع ملک", "value": "ویلایی"}],
      | "geo": {"lat": 37.28},
      | "description": ""}""".stripMargin

  test("sheypoor golden rows: every output column of every document") {
    val docs = Seq(
      "https://sheypoor.com/v/abc" -> sheypoorJson,
      "https://sheypoor.com/v/fa" -> sheypoorJson
        .replace("\"value\": \"3\"", "\"value\": \"۳\"")
        .replace("\"value\": \"2\"", "\"value\": \"۲\"")
        .replace("\"value\": \"1395\"", "\"value\": \"۱۳۹۵\""),
      "https://sheypoor.com/v/rent" -> sheypoorRentJson,
      "https://sheypoor.com/v/sell" -> sheypoorSellJson,
      "s-bad" -> "{not json")
    val out = ListingTransforms.sheypoorTransform(docs.toDF("url", "raw"), "raw", "url", ref)
    assertGolden(out, siteGoldenSchema, Map(
      "https://sheypoor.com/v/abc" -> golden("""
      |content_url = https://sheypoor.com/v/abc
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = املاک
      |cat3_slug = رهن-و-اجاره
      |city_slug = تهران
      |neighborhood_slug = ونک
      |created_at_month = 2025-10-21 10:00:00.0
      |description = توضیحات
      |title = رهن آپارتمان
      |rent_type = full_credit
      |credit_mode = مقطوع
      |credit_value = 2.5E8
      |rent_credit_transform = true
      |building_size = 85.0
      |floor = 3
      |rooms_count = 2
      |has_elevator = true
      |construction_year = 1395
      |location_latitude = 35.7
      |location_longitude = 51.4
      |images = [http://img/t.jpg]
      |bread_crumb = املاک/رهن و اجاره"""),
      "https://sheypoor.com/v/fa" -> golden("""
      |content_url = https://sheypoor.com/v/fa
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = املاک
      |cat3_slug = رهن-و-اجاره
      |city_slug = تهران
      |neighborhood_slug = ونک
      |created_at_month = 2025-10-21 10:00:00.0
      |description = توضیحات
      |title = رهن آپارتمان
      |rent_type = full_credit
      |credit_mode = مقطوع
      |credit_value = 2.5E8
      |rent_credit_transform = true
      |building_size = 85.0
      |floor = 3
      |rooms_count = 2
      |has_elevator = true
      |construction_year = 1395
      |location_latitude = 35.7
      |location_longitude = 51.4
      |images = [http://img/t.jpg]
      |bread_crumb = املاک/رهن و اجاره"""),
      "https://sheypoor.com/v/rent" -> golden("""
      |content_url = https://sheypoor.com/v/rent
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = املاک
      |city_slug = کرج
      |created_at_month = 2025-10-18 12:00:00.0
      |rent_mode = مقطوع
      |rent_value = 1.5E7
      |deed_type = تجاری
      |has_business_deed = true
      |unit_per_floor = 4
      |has_parking = true
      |bread_crumb = املاک"""),
      "https://sheypoor.com/v/sell" -> golden("""
      |content_url = https://sheypoor.com/v/sell
      |created_at = 2025-10-21 12:00:00.0
      |cat3_slug = ویلا
      |city_slug = رشت
      |neighborhood_slug = گلسار
      |created_at_month = 2025-10-21 12:00:00.0
      |title = فروش ویلا
      |price_mode = مقطوع
      |price_value = 1200000000
      |property_type = ویلایی
      |location_latitude = 37.28"""),
      "s-bad" -> golden("""
      |content_url = s-bad
      |created_at = 2025-10-21 12:00:00.0
      |created_at_month = 2025-10-21 12:00:00.0""")))
  }

  private val mrestateRentJson =
    """{"pageProps": {"data": {
      | "breadcrumb": [{"name": "خانه"}, {"name": "اجاره آپارتمان اداری در تهران"}],
      | "data": {
      |   "city": "تهران", "neighbourhood": "",
      |   "is_owner": true,
      |   "list_image": [{"url": ""}]}}}}""".stripMargin

  private val mrestateRentCreditJson =
    """{"pageProps": {"data": {
      | "breadcrumb": [{"name": "x"}, {"name": "رهن سوله صنعتی"}],
      | "data": {
      |   "date_publish": "2025-01-02",
      |   "creator_properties": {"consultant": "مشاور Y"},
      |   "price_rent": 100, "price_mortgage": 5000, "price_sell": 0,
      |   "year_constructed": "1402",
      |   "more_details": {"floor": "۳", "parking": 0}}}}}""".stripMargin

  test("mrestate golden rows: every output column of every document") {
    val docs = Seq(
      "https://mrestate.ir/p/1" -> mrestateJson,
      "https://mrestate.ir/p/2" -> mrestateJson
        .replace("""[{"name": "خانه"}""", """[{"name": ""}, {"name": "خانه"}""")
        .replace("""{"url": "/media/a.jpg"}""", """{"url": ""}, {"url": "/media/a.jpg"}"""),
      "https://mrestate.ir/p/3" -> mrestateRentJson,
      "https://mrestate.ir/p/4" -> mrestateRentCreditJson,
      "m-bad" -> "{not json")
    val out = ListingTransforms.mrestateTransform(docs.toDF("url", "raw"), "raw", "url", ref)
    assertGolden(out, siteGoldenSchema, Map(
      "https://mrestate.ir/p/1" -> golden("""
      |content_url = https://mrestate.ir/p/1
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = خرید
      |cat3_slug = آپارتمان
      |city_slug = تهران
      |neighborhood_slug = ونک
      |created_at_month = 2025-09-15 10:30:00.0
      |user_type = مشاور املاک
      |description = توضیح
      |title = آپارتمان ۱۰۰ متری
      |price_value = 9500000000
      |building_size = 100.0
      |floor = 4
      |rooms_count = 2
      |has_balcony = true
      |has_elevator = true
      |has_warehouse = false
      |has_parking = true
      |construction_year = 1400
      |has_security_guard = true
      |has_pool = false
      |location_latitude = 35.76
      |location_longitude = 51.42
      |images = [https://mrestate.ir/media/a.jpg, http://x/b.jpg]
      |bread_crumb = خانه\n/\nخرید آپارتمان در تهران\n/\nونک\n/"""),
      "https://mrestate.ir/p/2" -> golden("""
      |content_url = https://mrestate.ir/p/2
      |created_at = 2025-10-21 12:00:00.0
      |city_slug = تهران
      |neighborhood_slug = ونک
      |created_at_month = 2025-09-15 10:30:00.0
      |user_type = مشاور املاک
      |description = توضیح
      |title = آپارتمان ۱۰۰ متری
      |price_value = 9500000000
      |building_size = 100.0
      |floor = 4
      |rooms_count = 2
      |has_balcony = true
      |has_elevator = true
      |has_warehouse = false
      |has_parking = true
      |construction_year = 1400
      |has_security_guard = true
      |has_pool = false
      |location_latitude = 35.76
      |location_longitude = 51.42
      |images = [https://mrestate.ir/media/a.jpg, http://x/b.jpg]
      |bread_crumb = خانه\n/\nخرید آپارتمان در تهران\n/\nونک\n/"""),
      "https://mrestate.ir/p/3" -> golden("""
      |content_url = https://mrestate.ir/p/3
      |created_at = 2025-10-21 12:00:00.0
      |cat2_slug = اجاره
      |cat3_slug = آپارتمان
      |city_slug = تهران
      |neighborhood_slug =
      |user_type = شخصی
      |rent_mode = توافقی
      |credit_mode = توافقی
      |has_parking = false
      |bread_crumb = خانه\n/\nاجاره آپارتمان اداری در تهران\n/"""),
      "https://mrestate.ir/p/4" -> golden("""
      |content_url = https://mrestate.ir/p/4
      |created_at = 2025-10-21 12:00:00.0
      |cat3_slug = سوله
      |created_at_month = 2025-01-02 00:00:00.0
      |user_type = مشاور مستقل
      |rent_value = 100.0
      |rent_type = rent_credit
      |price_value = 0
      |credit_value = 5000.0
      |floor = 3
      |has_parking = false
      |construction_year = 1402
      |bread_crumb = x\n/\nرهن سوله صنعتی\n/"""),
      "m-bad" -> golden("""
      |content_url = m-bad
      |created_at = 2025-10-21 12:00:00.0
      |has_parking = false""")))
  }
}
