package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PersianText, RelativeDates}

/** The reference's four site transformers (≈1,700 LoC of row-at-a-time
  * Python, SURVEY.md §2.7 F33-F40) re-expressed as pure column programs
  * over `from_json`-typed structs: higher-order array functions navigate
  * sections/widgets, `when`-chains encode the business maps, and every
  * wall-clock read takes an injected `refTime`.
  *
  * Sources (see /root/reference/dags/web_scraping/websites):
  *  - divar/divar_transformer.py:89-638  (nested sections[]→widgets[])
  *  - sheypoor/sheypoor_transformer.py:92-298 (flat attrs + key/value)
  *  - mrestate/mrestate_transformer.py:28-213 (deep pageProps paths)
  * Kilid's HTML extraction (kilid_transformer.py:187-367) is an
  * ingestion-edge concern (CSS selectors over raw HTML) — the envelope
  * fields it shares with the canonical schema are handled in
  * `kilidEnvelope`.
  *
  * At scale each transform is a stack of narrow projections over the raw
  * JSON column — no shuffle, fully codegen'd, safe to fuse with the
  * dedup/sink stages downstream.
  *
  * The rule every transform here follows: a `Column` value is an
  * expression tree, not a computed result, so a `Column` referenced
  * more than once is inlined at every reference (and nested references
  * multiply). A subexpression that is read more than once and is not
  * trivial is computed once, as a column of an intermediate projection
  * (a "stage"), and later expressions read it by attribute. The analyzed
  * tree's size is what Catalyst pays per call and per streaming
  * micro-batch; `ListingTransformsSpec` bounds divar's.
  */
object ListingTransforms {

  // ---------------------------------------------------------------- utils

  /** First array element matching `p`, else null (ANSI-safe `get`). */
  private def firstWhere(arr: Column, p: Column => Column): Column =
    get(filter(arr, p), lit(0))

  /** Last array element matching `p` (reference loops let later matches
    * overwrite earlier ones), else null. */
  private def lastWhere(arr: Column, p: Column => Column): Column =
    try_element_at(filter(arr, p), lit(-1))

  private def emptyStrArray: Column = array().cast(ArrayType(StringType))

  /** Persian-aware "isdigit then float" (sheypoor price_clean:
    * strip non-digits, null when nothing remains). */
  private def digitsOnlyDouble(c: Column): Column = {
    val cleaned = regexp_replace(PersianText.persianToEnglishDigits(c.cast(StringType)), "[^0-9]", "")
    when(cleaned === "" || c.isNull, lit(null).cast(DoubleType))
      .otherwise(cleaned.try_cast(DoubleType))
  }

  /** `int(x) if x.isdigit()` else null — Python's isdigit()/int() both
    * accept Persian digits (sheypoor_transformer.py:193-210), so
    * translate them before the all-digits gate (the repo's determinism
    * rule: digits before regexes). */
  private def intIfDigits(c: Column): Column = {
    val en = PersianText.persianToEnglishDigits(c)
    when(en.rlike("^\\d+$"), en.try_cast(IntegerType)).otherwise(lit(null).cast(IntegerType))
  }

  private def typedMap(m: Seq[(String, String)]): Column =
    map(m.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  // ---------------------------------------------------------------- divar

  private val modalWidgetSchema = StructType(Seq(
    StructField("widget_type", StringType),
    StructField("data", StructType(Seq(
      StructField("title", StringType),
      StructField("text", StringType),
      StructField("value", StringType))))))

  private val itemSchema = StructType(Seq(
    StructField("title", StringType),
    StructField("value", StringType),
    StructField("available", BooleanType),
    StructField("image", StructType(Seq(StructField("url", StringType))))))

  private val geoPointSchema = StructType(Seq(
    StructField("latitude", StringType),
    StructField("lat", StringType),
    StructField("longitude", StringType),
    StructField("lng", StringType),
    StructField("long", StringType))) // seo geo also tries "long" (py:567)

  private val widgetDataSchema = StructType(Seq(
    StructField("title", StringType),
    StructField("subtitle", StringType),
    StructField("value", StringType),
    StructField("text", StringType),
    StructField("current_page_title", StringType),
    StructField("items", ArrayType(itemSchema)),
    StructField("credit", StructType(Seq(
      StructField("value", DoubleType),
      StructField("transformed_value", DoubleType)))),
    StructField("rent", StructType(Seq(
      StructField("value", DoubleType),
      StructField("transformed_value", DoubleType)))),
    StructField("action", StructType(Seq(
      StructField("payload", StructType(Seq(
        StructField("modal_page", StructType(Seq(
          StructField("widget_list", ArrayType(modalWidgetSchema))))))))))),
    StructField("location", StructType(Seq(
      StructField("fuzzy_data", StructType(Seq(
        StructField("point", geoPointSchema),
        StructField("center", geoPointSchema),
        StructField("radius", StringType),
        StructField("r", StringType)))), // radius fallback key (py:585)
      StructField("exact_data", geoPointSchema),
      StructField("radius", StringType)))))) // no-fuzzy/no-exact fallback (py:591)

  private val widgetSchema = StructType(Seq(
    StructField("widget_type", StringType),
    StructField("data", widgetDataSchema)))

  private val sectionSchema = StructType(Seq(
    StructField("section_name", StringType),
    StructField("widgets", ArrayType(widgetSchema))))

  /** Typed shape of a raw divar post document (FIXTURES.md §3). */
  val divarSchema: StructType = StructType(Seq(
    StructField("analytics", StructType(Seq(
      StructField("cat2", StringType), StructField("cat3", StringType),
      StructField("city", StringType)))),
    StructField("webengage", StructType(Seq(
      StructField("district", StringType), StructField("business_type", StringType),
      StructField("credit", DoubleType), StructField("rent", DoubleType)))),
    StructField("seo", StructType(Seq(
      StructField("post_seo_schema", StructType(Seq(
        StructField("description", StringType),
        StructField("geo", geoPointSchema),
        StructField("image", ArrayType(StringType)))))))),
    StructField("share", StructType(Seq(StructField("title", StringType)))),
    StructField("city", StructType(Seq(StructField("second_slug", StringType)))),
    StructField("sections", ArrayType(sectionSchema))))

  private val deedTypeMap = typedMap(Seq(
    "تک‌برگ" -> "single_page", "منگوله‌دار" -> "single_page",
    "قول‌نامه‌ای" -> "written_agreement", "نامشخص" -> "unselect",
    "unselect" -> "unselect", "سایر" -> "other"))

  private val featuresMap: Seq[(String, String)] = Seq(
    "آسانسور" -> "has_elevator", "پارکینگ" -> "has_parking",
    "انباری" -> "has_warehouse", "بالکن" -> "has_balcony",
    "سرمایش داکت اسپلیت" -> "has_cooling_system",
    "گرمایش داکت اسپلیت" -> "has_heating_system",
    "تأمین‌کننده آب گرم پکیج" -> "has_warm_water_provider",
    "آب" -> "has_water", "برق" -> "has_electricity", "گاز" -> "has_gas",
    "نگهبان" -> "has_security_guard", "باربیکیو" -> "has_barbecue",
    "استخر" -> "has_pool", "جکوزی" -> "has_jacuzzi", "سونا" -> "has_sauna")

  private val floorMaterialMap = typedMap(Seq(
    "جنس کف سنگ" -> "stone", "جنس کف سرامیک" -> "ceramic",
    "جنس کف موکت" -> "carpet", "جنس کف پارکت چوبی" -> "wood_parquet",
    "جنس کف موزاییک" -> "mosaic", "جنس کف پارکت لمینت" -> "laminate_parquet",
    "جنس کف پوشش کف" -> "floor_covering"))

  private val warmWaterMap = typedMap(Seq(
    "تأمین‌کننده آب گرم پکیج" -> "package",
    "تأمین‌کننده آب گرم آبگرمکن" -> "water_heater",
    "تأمین‌کننده آب گرم موتورخانه" -> "powerhouse"))

  private val coolingMap = typedMap(Seq(
    "سرمایش کولر گازی" -> "split", "سرمایش کولر آبی" -> "water_cooler",
    "سرمایش داکت اسپلیت" -> "duct_split", "سرمایش اسپلیت" -> "split",
    "سرمایش فن کویل" -> "fan_coil", "سرمایش هواساز" -> "air_conditioner"))

  private val heatingMap = typedMap(Seq(
    "گرمایش شوفاژ" -> "shoofaj", "گرمایش داکت اسپلیت" -> "duct_split",
    "گرمایش بخاری" -> "heater", "گرمایش اسپلیت" -> "split",
    "گرمایش شومینه" -> "fireplace", "گرمایش از کف" -> "floor_heating",
    "گرمایش فن کویل" -> "fan_coil"))

  private val restroomMap = typedMap(Seq(
    "سرویس بهداشتی ایرانی و فرنگی" -> "squat_seat",
    "سرویس بهداشتی ایرانی" -> "squat",
    "سرویس بهداشتی فرنگی" -> "seat"))

  private val propertyTypeMap = typedMap(Seq(
    "ویلای ساحلی" -> "beach", "ویلای جنگلی" -> "jungle",
    "ویلای کوهستانی" -> "mountain",
    "ویلای جنگلی-کوهستانی" -> "jungle-mountain", "سایر" -> "other"))

  private val buildingDirectionMap = typedMap(Seq(
    "شمالی" -> "north", "جنوبی" -> "south", "شرقی" -> "east",
    "غربی" -> "west", "نامشخص" -> "unselect"))

  /** divar raw JSON (string col) → canonical listing columns
    * (divar_transformer.py:89-638). `refTime` replaces datetime.now().
    *
    * Structured as STAGED projections (the rule above): the navigation
    * roots, the normalized modal list, each last-match lookup of the
    * feature fold, the money fallbacks, the geo chains, the regex
    * matches and the strings the numeric parsers read twice are each
    * computed once, as a column of an intermediate projection. Staged,
    * the analyzed plan holds 3,105 expression nodes; with these inlined
    * it held 23,098 (`ListingTransformsSpec` guards ≤ 6,000).
    * CollapseProject keeps the stages because the shared expressions
    * are non-cheap and multiply referenced. */
  def divarTransform(raw: DataFrame, jsonCol: String, urlCol: String,
                     refTime: Column): DataFrame = {
    val parsed = raw.withColumn("__d", from_json(col(jsonCol), divarSchema))
    val d = col("__d")
    val sections = d("sections")

    // Python `a or b or None` — truthiness: empty strings fall through
    // like nulls, and a lone falsy value becomes null
    def truthyOr(cs: Column*): Column =
      coalesce(cs.map(c => when(c.isNotNull && c =!= "", c)): _*)

    def sectionByName(name: String): Column =
      firstWhere(sections, s => s("section_name") === name)

    // "N از M" (floor N of M), matched in the floor row and the description
    val ofTotal = "(\\d+)\\s*از\\s*(\\d+)"

    // ---- stage 1: per-section navigation roots (one filter each)
    val s1 = parsed.select(
      col(urlCol), col("__d"),
      sectionByName("LIST_DATA")("widgets").as("__widgets"),
      coalesce(
        firstWhere(sectionByName("BREADCRUMB")("widgets"),
          w => w("widget_type") === "BREADCRUMB")("data")("current_page_title"),
        lit("")).as("__bc"),
      coalesce(
        firstWhere(sectionByName("DESCRIPTION")("widgets"),
          w => w("widget_type") === "DESCRIPTION_ROW")("data")("text"),
        lit("")).as("__desc"),
      firstWhere(sectionByName("TITLE")("widgets"),
        w => w("widget_type") === "LEGEND_TITLE_ROW")("data")("subtitle")
        .as("__subtitle"),
      flatten(transform(
        filter(sectionByName("IMAGE")("widgets"),
          w => w("widget_type") === "IMAGE_CAROUSEL" && w("data")("items").isNotNull),
        w => transform(w("data")("items"), it => it("image")("url"))))
        .as("__carousel"),
      firstWhere(sectionByName("MAP")("widgets"),
        w => w("data")("location").isNotNull).as("__mapw"))

    val W = col("__widgets")
    def unexpandable(title: String): Column =
      firstWhere(W, w =>
        w("widget_type") === "UNEXPANDABLE_ROW" && w("data")("title") === title)
    def rowValue(title: String): Column =
      lastWhere(W, w =>
        w("widget_type") === "UNEXPANDABLE_ROW" && w("data")("title") === title
      )("data")("value")

    // ------------- geo (seo first, then MAP fuzzy/exact)
    // All the reference's geo chains are `a or b or ...` — Python
    // truthiness, so empty strings fall through like nulls; the MAP
    // branch (including radius!) is consulted only when the seo lat or
    // lon is missing, and inside it the seo value survives as the
    // per-coordinate fallback (divar_transformer.py:563-595).
    val seoGeo = d("seo")("post_seo_schema")("geo")
    val loc = col("__mapw")("data")("location")
    val fuzzy = loc("fuzzy_data")
    val exact = loc("exact_data")

    // ---- stage 2: widget-level roots (reference __widgets by attribute)
    val s2 = s1.select(col("*"),
      flatten(transform(
        filter(W, w =>
          w("widget_type") === "GROUP_INFO_ROW" && w("data")("items").isNotNull),
        w => w("data")("items"))).as("__ginfo"),
      firstWhere(W, w => w("widget_type") === "GROUP_FEATURE_ROW")("data").as("__gfr"),
      firstWhere(W, w => w("widget_type") === "RENT_SLIDER").as("__slider"),
      unexpandable("قیمت کل")("data")("value").as("__priceRow"),
      rowValue("ودیعه").as("__creditRow"),
      rowValue("اجارهٔ ماهانه").as("__rentRow"),
      unexpandable("سند").as("__deedW"),
      unexpandable("طبقه")("data")("value").as("__floorRaw"),
      unexpandable("متراژ زمین")("data")("value").as("__landRaw"),
      // the reference's نوع ملک loop has no break — LAST match wins
      // (divar_transformer.py:550-556)
      lastWhere(W, w =>
        w("widget_type") === "UNEXPANDABLE_ROW" &&
          w("data")("title") === "نوع ملک").as("__propW"),
      truthyOr(seoGeo("latitude"), seoGeo("lat")).as("__seoLat"),
      truthyOr(seoGeo("longitude"), seoGeo("lng"), seoGeo("long")).as("__seoLon"),
      coalesce(fuzzy("point"), fuzzy("center")).as("__fuzzyPt"),
      regexp_extract(PersianText.persianToEnglishDigits(col("__desc")), ofTotal, 2)
        .as("__descTotal"))

    val groupInfoItems = col("__ginfo")
    val breadcrumbTitle = col("__bc")
    val subtitle = col("__subtitle")
    val rentSlider = col("__slider")
    val creditRow = col("__creditRow")
    val rentRow = col("__rentRow")
    val rawModal = col("__gfr")("action")("payload")("modal_page")("widget_list")

    def groupInfoValue(titleContains: String): Column =
      firstWhere(groupInfoItems, it => it("title").contains(titleContains))("value")
    val modalValue: String => Column = title =>
      firstWhere(rawModal, m => m("data")("title") === title)("data")("value")

    // ------------- price block
    val priceMode =
      when(breadcrumbTitle.contains("رایگان") || breadcrumbTitle.contains("مجانی"), "مجانی")
        .when(breadcrumbTitle.contains("توافقی"), "توافقی")
        .when(breadcrumbTitle.contains("مقطوع"), "مقطوع")

    val priceValueStr = when(col("__priceRow").isNotNull,
      regexp_replace(col("__priceRow"), " تومان", ""))

    val sliderPresent = rentSlider.isNotNull

    val webCredit = d("webengage")("credit")
    val webRent = d("webengage")("rent")

    val sCredit = rentSlider("data")("credit")("value")
    val sRent = rentSlider("data")("rent")("value")
    val sTransCredit = rentSlider("data")("credit")("transformed_value")
    val sTransRent = rentSlider("data")("rent")("transformed_value")
    def truthyNum(c: Column): Column = c.isNotNull && c =!= 0.0

    // fallback branch (no RENT_SLIDER): cleaned "ودیعه"/"اجارهٔ ماهانه"
    // rows then webengage; reference cleans RLM + Persian comma + " تومان"
    // then gates on `cleaned.replace(".","").isdigit()` before float()
    // (divar_transformer.py:232-239). Python's isdigit()/float() accept
    // Persian digits, so translate them first.
    def cleanedMoney(c: Column): Column = {
      val en = PersianText.persianToEnglishDigits(c)
      val cleaned = trim(regexp_replace(regexp_replace(en, "[‏،]", ""), " تومان", ""))
      when(regexp_replace(cleaned, "\\.", "").rlike("^\\d+$"), cleaned.try_cast(DoubleType))
    }

    // `mdata.get("title","") or mdata.get("text","") or ""` — Python
    // truthiness: an EMPTY title falls through to text, not just a null
    // one (divar_transformer.py:513-514)
    def modalTitle(mw: Column): Column = {
      val t = mw("data")("title")
      val x = mw("data")("text")
      when(t.isNotNull && t =!= "", t)
        .otherwise(when(x.isNotNull && x =!= "", x).otherwise(lit("")))
    }

    val seoLat = col("__seoLat")
    val seoLon = col("__seoLon")
    val fuzzyPoint = col("__fuzzyPt")
    val mapNeeded = (seoLat.isNull || seoLon.isNull) && col("__mapw").isNotNull
    def mapCoord(fromFuzzy: Column, fromExact: Column, seo: Column): Column =
      when(mapNeeded,
        when(fuzzy.isNotNull, coalesce(fromFuzzy, seo))
          .when(exact.isNotNull, coalesce(fromExact, seo))
          .otherwise(seo))
        .otherwise(seo)

    // ---- stage 3: item-level roots — the feature items, the modal list
    // normalized once to (widget_type, title, value), the modal lookups,
    // the money fallbacks (each referenced by several outputs), the
    // group-info values read more than once, and the geo strings
    val s3 = s2.select(col("*"),
      col("__gfr")("items").as("__gfi"),
      transform(rawModal, mw => struct(
        mw("widget_type").as("widget_type"),
        modalTitle(mw).as("title"),
        mw("data")("value").as("value"))).as("__modal"),
      modalValue("تعداد واحد در طبقه").as("__unitRaw"),
      coalesce(
        when(creditRow.isNotNull, cleanedMoney(creditRow)),
        when(truthyNum(webCredit), webCredit)).as("__fbCredit"),
      coalesce(
        when(rentRow.isNotNull && rentRow.contains("رایگان"), lit(0.0))
          .when(rentRow.isNotNull, cleanedMoney(rentRow)),
        when(truthyNum(webRent), webRent)).as("__fbRent"),
      groupInfoValue("اتاق").as("__rooms"),
      // construction year: EXACT title match and no break → last item
      // wins (divar_transformer.py:542-548), unlike متراژ/اتاق which use
      // substring-contains with break (first wins)
      lastWhere(groupInfoItems, it => it("title") === "ساخت")("value").as("__built"),
      PersianText.persianToEnglishDigits(col("__floorRaw")).as("__floorEn"),
      mapCoord(truthyOr(fuzzyPoint("latitude"), fuzzyPoint("lat")),
        truthyOr(exact("latitude"), exact("lat")), seoLat).as("__lat"),
      mapCoord(truthyOr(fuzzyPoint("longitude"), fuzzyPoint("lng")),
        truthyOr(exact("longitude"), exact("lng")), seoLon).as("__lon"),
      when(mapNeeded,
        when(fuzzy.isNotNull, truthyOr(fuzzy("radius"), fuzzy("r")))
          .when(exact.isNotNull, lit(null).cast(StringType))
          .otherwise(loc("radius"))).as("__radius"))

    val groupFeatureItems = col("__gfi")
    val modalFeatures = col("__modal")

    // ---- stage 4 collects what the outputs below read more than once
    // (the feature fold's last-match roots, the regex matches, the
    // strings the numeric parsers read twice): `staged` registers an
    // expression and returns its attribute, so each is computed once
    val stage4 = scala.collection.mutable.ArrayBuffer.empty[Column]
    def staged(c: Column): Column = {
      val name = s"__r${stage4.size}"
      stage4 += c.as(name)
      col(name)
    }

    // `if subtitle:` — an EMPTY subtitle yields no publish time (null),
    // it must not fall into text_to_date's refTime default
    val createdAtMonth = when(subtitle.isNotNull && subtitle =!= "",
      RelativeDates.textToDateDivar(
        staged(trim(get(split(subtitle, " در "), lit(0)))), refTime))

    val fbCredit = col("__fbCredit")
    val fbRent = col("__fbRent")
    val fbHasCredit = fbCredit.isNotNull && fbCredit > 0
    val fbHasRent = fbRent.isNotNull && fbRent > 0

    val creditValue = when(sliderPresent, when(truthyNum(sCredit), sCredit)).otherwise(fbCredit)
    val rentValue = when(sliderPresent, when(truthyNum(sRent), sRent)).otherwise(fbRent)
    val transformedCredit = when(sliderPresent, when(truthyNum(sTransCredit), sTransCredit))
    val transformedRent = when(sliderPresent, when(truthyNum(sTransRent), sTransRent))
    // Reference quirk, ported faithfully: transformable_credit/rent are
    // bool(trans_x) (divar_transformer.py:199-200) but the final numeric
    // pass (py:612-637) runs them through float(re.sub(...)) — str(True)
    // strips to "" and float("") raises → None, while False is excluded
    // by the `val not in [None, "", False]` gate and survives. The
    // observable output is therefore NULL when the transformed value is
    // truthy and false otherwise — never true.
    val transformableCredit = when(sliderPresent, when(!truthyNum(sTransCredit), lit(false)))
    val transformableRent = when(sliderPresent, when(!truthyNum(sTransRent), lit(false)))
    val rentCreditTransform =
      when(sliderPresent, truthyNum(sTransCredit) && truthyNum(sTransRent))
    val transformablePrice = rentCreditTransform

    // NB in the slider branch the reference's has_credit/has_rent are
    // hard-coded False (divar_transformer.py:206-207) — ported faithfully.
    val rentType =
      when(sliderPresent, when(rentCreditTransform, "rent_credit"))
        .otherwise(
          when(fbHasCredit && !fbHasRent, "full_credit")
            .when(fbHasRent && !fbHasCredit, "full_rent")
            .otherwise("rent_credit"))
    val rentMode = when(sliderPresent, lit("مجانی"))
    val creditMode = when(!sliderPresent && fbHasCredit, "مقطوع")

    // ------------- physical fields
    val landSize = col("__landRaw")
    val buildingSize = groupInfoValue("متراژ")

    val deedWidget = col("__deedW")
    val rawDeed = when(deedWidget.isNotNull, deedWidget("data")("value"))
      .otherwise(modalValue("سند"))
    val deedType = element_at(deedTypeMap, rawDeed)

    // Python's re.\d matches Persian digits — translate first for parity.
    val rawFloorEn = col("__floorEn")
    val floorOf = staged(regexp_extract(rawFloorEn, ofTotal, 1))
    val floorStr =
      when(col("__floorRaw").isin("همکف", "هم‌کف"), "0")
        .when(floorOf =!= "", floorOf)
        .when(rawFloorEn.try_cast(DoubleType).isNotNull, rawFloorEn)

    val roomsRaw = col("__rooms")
    val roomsStr = when(roomsRaw === "بدون اتاق", "0")
      .when(roomsRaw === "+۴", "5")
      .otherwise(roomsRaw)

    val floorTotal = staged(regexp_extract(rawFloorEn, ofTotal, 2))
    val descTotal = col("__descTotal")
    val totalFloors = coalesce(
      when(floorTotal =!= "", floorTotal),
      when(descTotal =!= "", descTotal))

    val unitRaw = col("__unitRaw")
    val unitMore = staged(regexp_extract(
      PersianText.persianToEnglishDigits(unitRaw), "بیشتر از\\s*(\\d+)", 1))
    val unitPerFloor = when(unitMore =!= "",
        (unitMore.try_cast(LongType) + 1).cast(StringType))
      .otherwise(unitRaw)

    // ------------- feature fold (group items pass, then modal override)
    def groupBool(g: Column): Column =
      when(g.isNotNull,
        when(g("title").contains("ندارد"), false)
          .when(g("available").isNotNull, g("available"))
          .otherwise(true))

    def featureBool(keyword: String): Column = {
      val g = staged(lastWhere(groupFeatureItems, it => it("title").contains(keyword)))
      val m = staged(lastWhere(modalFeatures, mw => mw("title").contains(keyword)))
      val mVal = when(m.isNotNull,
        when(m("title").contains("ندارد"), false).otherwise(true))
      coalesce(mVal, groupBool(g))
    }

    def modalEnum(keyword: String, mapping: Column): Column = {
      val m = staged(lastWhere(modalFeatures, mw => mw("title").contains(keyword)))
      when(m.isNotNull,
        coalesce(element_at(mapping, m("title")), lit("unselect")))
    }

    // enum-string columns also receive the boolean feature pass
    // (features_map keys like "سرمایش داکت اسپلیت"). The reference makes
    // BOTH kinds of write in ONE pass over the modal list
    // (divar_transformer.py:509-536): per item the features_map bool
    // write runs first, then the enum write — so within one item the
    // enum wins, and ACROSS items the last matching item wins no matter
    // which kind of write it makes. Reproduced exactly: find the last
    // item matching either predicate, then decide enum-vs-bool for that
    // single item. Group-pass bools survive only when no modal item
    // matches at all.
    def modalInterleaved(enumTrigger: String, mapping: Column, boolKeyword: String,
                         enumWidget: Option[String] = None): Column = {
      def isEnum(mw: Column): Column = {
        val t = mw("title").contains(enumTrigger)
        enumWidget.map(w => mw("widget_type") === w && t).getOrElse(t)
      }
      val m = staged(lastWhere(modalFeatures,
        mw => isEnum(mw) || mw("title").contains(boolKeyword)))
      val g = staged(lastWhere(groupFeatureItems, it => it("title").contains(boolKeyword)))
      val mVal = when(isEnum(m),
          coalesce(element_at(mapping, m("title")), lit("unselect")))
        .otherwise(when(m("title").contains("ندارد"), lit(false))
          .otherwise(lit(true)).cast(StringType))
      when(m.isNotNull, mVal).otherwise(groupBool(g).cast(StringType))
    }

    def modalRow(title: String): Column =
      staged(lastWhere(modalFeatures, mw =>
        mw("widget_type") === "UNEXPANDABLE_ROW" && mw("title") === title))
    val isRebuilt = {
      val m = modalRow("وضعیت واحد")
      when(m.isNotNull, m("value") === "بازسازی شده")
    }
    val buildingDirection = {
      val m = modalRow("جهت ساختمان")
      when(m.isNotNull,
        coalesce(element_at(buildingDirectionMap, m("value")), lit("unselect")))
    }
    val constructionRaw = col("__built")
    val constructionYear = when(
        PersianText.persianToEnglishDigits(constructionRaw).contains("قبل"), "-1370")
      .otherwise(constructionRaw)

    val propTypeWidget = col("__propW")
    val propertyType = when(propTypeWidget.isNotNull,
      coalesce(element_at(propertyTypeMap, propTypeWidget("data")("value")), lit("other")))

    // ------------- images (order-preserving distinct)
    val seoImages = d("seo")("post_seo_schema")("image")
    val carouselImages = col("__carousel")
    // `[i for i in schema_images if i]` / `if img:` — Python truthiness
    // skips empty strings too (divar_transformer.py:597-608)
    val images = array_distinct(filter(
      concat(coalesce(seoImages, emptyStrArray), coalesce(carouselImages, emptyStrArray)),
      i => i.isNotNull && i =!= ""))

    import PersianText.{toDoubleOrNull, toLongOrNull}
    val outputs = Seq(
      col(urlCol).as("content_url"),
      refTime.as("created_at"),
      truthyOr(d("analytics")("cat2")).as("cat2_slug"),
      truthyOr(d("analytics")("cat3")).as("cat3_slug"),
      truthyOr(d("analytics")("city"), d("city")("second_slug")).as("city_slug"),
      truthyOr(d("webengage")("district")).as("neighborhood_slug"),
      createdAtMonth.as("created_at_month"),
      element_at(typedMap(Seq("personal" -> "شخصی", "premium-panel" -> "مشاور املاک")),
        d("webengage")("business_type")).as("user_type"),
      truthyOr(d("seo")("post_seo_schema")("description")).as("description"),
      truthyOr(d("share")("title")).as("title"),
      rentMode.as("rent_mode"),
      rentValue.as("rent_value"),
      lit(null).cast(StringType).as("rent_to_single"),
      rentType.as("rent_type"),
      priceMode.as("price_mode"),
      toLongOrNull(staged(priceValueStr)).as("price_value"),
      creditMode.as("credit_mode"),
      creditValue.as("credit_value"),
      rentCreditTransform.as("rent_credit_transform"),
      transformablePrice.as("transformable_price"),
      transformableCredit.as("transformable_credit"),
      transformedCredit.as("transformed_credit"),
      transformableRent.as("transformable_rent"),
      transformedRent.as("transformed_rent"),
      toDoubleOrNull(landSize).as("land_size"),
      toDoubleOrNull(staged(buildingSize)).as("building_size"),
      deedType.as("deed_type"),
      lit(null).cast(BooleanType).as("has_business_deed"),
      toLongOrNull(floorStr).cast(IntegerType).as("floor"),
      toLongOrNull(roomsStr).cast(IntegerType).as("rooms_count"),
      toLongOrNull(totalFloors).cast(IntegerType).as("total_floors_count"),
      toLongOrNull(unitPerFloor).cast(IntegerType).as("unit_per_floor"),
      featureBool("بالکن").as("has_balcony"),
      featureBool("آسانسور").as("has_elevator"),
      featureBool("انباری").as("has_warehouse"),
      featureBool("پارکینگ").as("has_parking"),
      toDoubleOrNull(constructionYear).cast(IntegerType).as("construction_year"),
      isRebuilt.as("is_rebuilt"),
      featureBool("آب").as("has_water"),
      modalInterleaved("تأمین‌کننده آب گرم", warmWaterMap, "تأمین‌کننده آب گرم پکیج")
        .as("has_warm_water_provider"),
      featureBool("برق").as("has_electricity"),
      featureBool("گاز").as("has_gas"),
      modalInterleaved("گرمایش", heatingMap, "گرمایش داکت اسپلیت",
        enumWidget = Some("FEATURE_ROW")).as("has_heating_system"),
      modalInterleaved("سرمایش", coolingMap, "سرمایش داکت اسپلیت")
        .as("has_cooling_system"),
      modalEnum("سرویس بهداشتی", restroomMap).as("has_restroom"),
      featureBool("نگهبان").as("has_security_guard"),
      featureBool("باربیکیو").as("has_barbecue"),
      buildingDirection.as("building_direction"),
      featureBool("استخر").as("has_pool"),
      featureBool("جکوزی").as("has_jacuzzi"),
      featureBool("سونا").as("has_sauna"),
      modalEnum("کف", floorMaterialMap).as("floor_material"),
      propertyType.as("property_type"),
      lit(null).cast(IntegerType).as("regular_person_capacity"),
      lit(null).cast(IntegerType).as("extra_person_capacity"),
      lit(null).cast(LongType).as("cost_per_extra_person"),
      lit(null).cast(LongType).as("rent_price_on_regular_days"),
      lit(null).cast(LongType).as("rent_price_on_special_days"),
      lit(null).cast(LongType).as("rent_price_at_weekends"),
      toDoubleOrNull(col("__lat")).as("location_latitude"),
      toDoubleOrNull(col("__lon")).as("location_longitude"),
      toDoubleOrNull(col("__radius")).as("location_radius"),
      images.as("images"))
    s3.select(col("*") +: stage4.toSeq: _*).select(outputs: _*)
  }

  // ------------------------------------------------------------- sheypoor

  /** Typed shape of a sheypoor item (sheypoor_transformer.py:103-231). */
  val sheypoorSchema: StructType = StructType(Seq(
    StructField("attributes", StructType(Seq(
      StructField("title", StringType),
      StructField("url", StringType),
      StructField("location", StringType),
      StructField("timePassedLabel", StringType),
      StructField("categories", ArrayType(StructType(Seq(StructField("name", StringType))))),
      StructField("price", ArrayType(StructType(Seq(
        StructField("label", StringType), StructField("amount", StringType))))),
      StructField("images", StructType(Seq(
        StructField("thumbnails", StructType(Seq(StructField("round", StringType)))))))))),
    StructField("fullAttributes", ArrayType(StructType(Seq(
      StructField("key", StringType), StructField("value", StringType))))),
    StructField("geo", StructType(Seq(
      StructField("lat", DoubleType), StructField("lon", DoubleType)))),
    StructField("description", StringType)))

  def sheypoorTransform(raw: DataFrame, jsonCol: String, urlCol: String,
                        refTime: Column): DataFrame = {
    val parsed = raw.withColumn("__d", from_json(col(jsonCol), sheypoorSchema))
    val d = col("__d")
    val attrs = d("attributes")

    def getAttr(key: String): Column =
      firstWhere(d("fullAttributes"), a => a("key") === key)("value")

    // to_slug handles falsy → null and the Persian comma itself
    def slug(c: Column): Column = PersianText.toSlug(c)

    // Python truthiness throughout (`if b1:` / `x or None`): empty
    // strings behave like nulls
    def truthy(c: Column): Column = c.isNotNull && c =!= ""
    def orNone(c: Column): Column = when(truthy(c), c)

    val locParts = split(attrs("location"), "،")

    // ---- stage 1: the values read more than once (the divarTransform
    // rule: a Column referenced twice is inlined twice)
    val s1 = parsed.select(col(urlCol), d,
      get(attrs("categories"), lit(0))("name").as("__b1"),
      get(attrs("categories"), lit(1))("name").as("__b2"),
      trim(get(locParts, lit(0))).as("__p0"),
      trim(get(locParts, lit(1))).as("__p1"),
      get(attrs("price"), lit(0)).as("__price"),
      getAttr("نوع سند").as("__deed"))

    val b1 = col("__b1")
    val b2 = col("__b2")
    val breadCrumb = when(truthy(b1),
      when(truthy(b2), concat(b1, lit("/"), b2)).otherwise(b1))

    val publishTime = when(attrs("timePassedLabel").isNotNull,
      RelativeDates.textToDateSheypoor(attrs("timePassedLabel"), refTime))

    val p = col("__price")
    val label = trim(coalesce(p("label"), lit("")))
    // ---- stage 2: the price kind and amount
    val s2 = s1.select(col("*"),
      (p.isNotNull && label.isin("رهن", "رهن کامل")).as("__isCredit"),
      (p.isNotNull && label === "اجاره").as("__isRent"),
      digitsOnlyDouble(p("amount")).as("__amount"))

    val amount = col("__amount")
    val isCredit = col("__isCredit")
    val isRent = col("__isRent")
    val isPrice = p.isNotNull && !isCredit && !isRent

    val creditValue = when(isCredit, amount)
    val rentValue = when(isRent, amount)
    val rentType =
      when(creditValue.isNotNull && creditValue =!= 0 &&
           (rentValue.isNull || rentValue === 0), "full_credit")
        .when(creditValue.isNotNull && creditValue =!= 0 &&
              rentValue.isNotNull && rentValue =!= 0, "rent_credit")

    val deedType = col("__deed")

    s2.select(
      col(urlCol).as("content_url"),
      refTime.as("created_at"),
      slug(b1).as("cat2_slug"),
      slug(b2).as("cat3_slug"),
      slug(col("__p0")).as("city_slug"),
      slug(col("__p1")).as("neighborhood_slug"),
      coalesce(publishTime, refTime).as("created_at_month"),
      lit(null).cast(StringType).as("user_type"),
      orNone(d("description")).as("description"),
      orNone(attrs("title")).as("title"),
      when(isRent, "مقطوع").as("rent_mode"),
      rentValue.as("rent_value"),
      lit(null).cast(StringType).as("rent_to_single"),
      rentType.as("rent_type"),
      when(isPrice, "مقطوع").as("price_mode"),
      when(isPrice, amount).cast(LongType).as("price_value"),
      when(isCredit, "مقطوع").as("credit_mode"),
      creditValue.as("credit_value"),
      when(getAttr("قابلیت تبدیل مبلغ رهن و اجاره") === "true", true)
        .as("rent_credit_transform"),
      lit(null).cast(BooleanType).as("transformable_price"),
      lit(null).cast(BooleanType).as("transformable_credit"),
      lit(null).cast(DoubleType).as("transformed_credit"),
      lit(null).cast(BooleanType).as("transformable_rent"),
      lit(null).cast(DoubleType).as("transformed_rent"),
      lit(null).cast(DoubleType).as("land_size"),
      digitsOnlyDouble(getAttr("متراژ")).as("building_size"),
      deedType.as("deed_type"),
      when(deedType === "تجاری", true).as("has_business_deed"),
      intIfDigits(getAttr("طبقه ملک")).as("floor"),
      intIfDigits(getAttr("تعداد اتاق")).as("rooms_count"),
      lit(null).cast(IntegerType).as("total_floors_count"),
      intIfDigits(getAttr("تعداد واحد در طبقه")).as("unit_per_floor"),
      lit(null).cast(BooleanType).as("has_balcony"),
      when(getAttr("آسانسور") === "دارد", true).as("has_elevator"),
      when(getAttr("انباری") === "دارد", true).as("has_warehouse"),
      when(getAttr("پارکینگ") === "دارد", true).as("has_parking"),
      intIfDigits(getAttr("سال ساخت بنا")).as("construction_year"),
      lit(null).cast(BooleanType).as("is_rebuilt"),
      lit(null).cast(BooleanType).as("has_water"),
      lit(null).cast(StringType).as("has_warm_water_provider"),
      lit(null).cast(BooleanType).as("has_electricity"),
      lit(null).cast(BooleanType).as("has_gas"),
      lit(null).cast(StringType).as("has_heating_system"),
      lit(null).cast(StringType).as("has_cooling_system"),
      lit(null).cast(StringType).as("has_restroom"),
      lit(null).cast(BooleanType).as("has_security_guard"),
      lit(null).cast(BooleanType).as("has_barbecue"),
      lit(null).cast(StringType).as("building_direction"),
      lit(null).cast(BooleanType).as("has_pool"),
      lit(null).cast(BooleanType).as("has_jacuzzi"),
      lit(null).cast(BooleanType).as("has_sauna"),
      lit(null).cast(StringType).as("floor_material"),
      orNone(getAttr("نوع ملک")).as("property_type"),
      lit(null).cast(IntegerType).as("regular_person_capacity"),
      lit(null).cast(IntegerType).as("extra_person_capacity"),
      lit(null).cast(LongType).as("cost_per_extra_person"),
      lit(null).cast(LongType).as("rent_price_on_regular_days"),
      lit(null).cast(LongType).as("rent_price_on_special_days"),
      lit(null).cast(LongType).as("rent_price_at_weekends"),
      d("geo")("lat").as("location_latitude"),
      d("geo")("lon").as("location_longitude"),
      lit(null).cast(DoubleType).as("location_radius"),
      when(attrs("images")("thumbnails")("round").isNotNull,
        array(attrs("images")("thumbnails")("round"))).as("images"),
      breadCrumb.as("bread_crumb"))
  }

  // ------------------------------------------------------------- mrestate

  /** Typed shape of an mrestate next.js payload
    * (mrestate_transformer.py:28-213). */
  val mrestateSchema: StructType = StructType(Seq(
    StructField("pageProps", StructType(Seq(
      StructField("data", StructType(Seq(
        StructField("breadcrumb", ArrayType(StructType(Seq(StructField("name", StringType))))),
        StructField("data", StructType(Seq(
          StructField("city", StringType),
          StructField("neighbourhood", StringType),
          StructField("date_publish", StringType),
          StructField("creator_properties", StructType(Seq(
            StructField("real_estate", StringType),
            StructField("consultant", StringType)))),
          StructField("is_owner", BooleanType),
          StructField("more_description", StringType),
          StructField("title", StringType),
          StructField("price_rent", DoubleType),
          StructField("price_sell", DoubleType),
          StructField("price_mortgage", DoubleType),
          StructField("area", DoubleType),
          StructField("num_bedrooms", DoubleType),
          StructField("year_constructed", StringType),
          StructField("latitude", DoubleType),
          StructField("longitude", DoubleType),
          StructField("list_image", ArrayType(StructType(Seq(StructField("url", StringType))))),
          StructField("more_details", StructType(Seq(
            StructField("floor", StringType),
            StructField("balcony", BooleanType),
            StructField("elevator", BooleanType),
            StructField("storeHouse", BooleanType),
            StructField("parking", DoubleType),
            StructField("security", BooleanType),
            StructField("pool", BooleanType),
            StructField("jacuzzi", BooleanType),
            StructField("sauna", BooleanType)))))))))))))))

  /** Reference candidate order (mrestate_transformer.py:37-41) — note
    * "آپارتمان" precedes "آپارتمان اداری", so the plain prefix wins,
    * exactly like the reference's first-startswith-match loop. */
  private val mrestateCat3 = Seq(
    "آپارتمان", "برج", "پنت هاوس", "کلنگی", "مستغلات", "زمین",
    "سوییت", "ویلا", "آپارتمان اداری", "سند اداری", "مغازه",
    "کارخانه", "کارگاه", "انبار", "سوله")

  def mrestateTransform(raw: DataFrame, jsonCol: String, urlCol: String,
                        refTime: Column): DataFrame = {
    val parsed = raw.withColumn("__d", from_json(col(jsonCol), mrestateSchema))
    val page = col("__d")("pageProps")("data")
    val dd = page("data")
    val md = dd("more_details")
    val breadcrumb = page("breadcrumb")

    val priceRent = dd("price_rent")
    val priceSell = dd("price_sell")
    val priceMortgage = dd("price_mortgage")

    // ---- staged like divarTransform: each value read more than once is
    // one column of a projection, referenced by attribute
    val s1 = parsed.select(col(urlCol), col("__d"),
      coalesce(get(breadcrumb, lit(1))("name"), lit("")).as("__name"),
      (priceRent.isNull && priceSell.isNull && priceMortgage.isNull).as("__allNull"))
    val name = col("__name")
    val s2 = s1.select(col("*"), trim(get(split(name, " "), lit(0))).as("__first"))
    val firstWord = col("__first")
    val s3 = s2.select(col("*"),
      when(firstWord.isin("خرید", "اجاره"), firstWord).as("__cat2"),
      trim(name.substr(length(firstWord) + 1, length(name))).as("__rest"))
    val cat2 = col("__cat2")
    val rest = col("__rest")
    // startswith against the candidate list in reference order: plain
    // "آپارتمان" is listed BEFORE "آپارتمان اداری", so the shorter prefix
    // intentionally wins — exactly like the reference's first-
    // startswith-match loop (mrestate_transformer.py:39-43). Do not
    // "fix" by sorting longest-first; that would break parity.
    val cat3 = coalesce(mrestateCat3.map(c => when(rest.startsWith(c), lit(c))): _*)

    val userType =
      when(coalesce(dd("is_owner"), lit(false)), "شخصی")
        .when(dd("creator_properties")("real_estate").isNotNull, "مشاور املاک")
        .when(dd("creator_properties")("consultant").isNotNull, "مشاور مستقل")

    val allNull = col("__allNull")

    val rentType =
      when(priceMortgage.isNotNull && priceMortgage =!= 0 &&
           (priceRent.isNull || priceRent === 0), "full_credit")
        .when(priceMortgage.isNotNull && priceMortgage =!= 0 &&
              priceRent.isNotNull && priceRent =!= 0, "rent_credit")

    // `if url:` / `if b.get("name")` in the reference are Python
    // truthiness — empty strings are skipped too, not just nulls
    // (mrestate_transformer.py:216-227)
    def truthyStr(c: Column): Column = c.isNotNull && c =!= ""
    val images = when(size(filter(transform(dd("list_image"), i => i("url")),
        u => truthyStr(u))) > 0,
      transform(filter(dd("list_image"), i => truthyStr(i("url"))),
        i => when(i("url").startsWith("/media"),
          concat(lit("https://mrestate.ir"), i("url"))).otherwise(i("url"))))

    val crumbNames = filter(transform(breadcrumb, b => b("name")), n => truthyStr(n))
    val breadCrumbStr = when(breadcrumb.isNotNull && size(breadcrumb) > 0,
      concat(array_join(crumbNames, "\n/\n"), lit("\n/")))

    // a malformed date nulls this column only: under ANSI mode
    // `to_timestamp` would fail the whole job on one bad document
    val createdAtMonth = try_to_timestamp(dd("date_publish"))

    s3.select(
      col(urlCol).as("content_url"),
      refTime.as("created_at"),
      cat2.as("cat2_slug"),
      cat3.as("cat3_slug"),
      dd("city").as("city_slug"),
      dd("neighbourhood").as("neighborhood_slug"),
      createdAtMonth.as("created_at_month"),
      userType.as("user_type"),
      dd("more_description").as("description"),
      dd("title").as("title"),
      when(allNull && cat2 === "اجاره", "توافقی").as("rent_mode"),
      priceRent.as("rent_value"),
      lit(null).cast(StringType).as("rent_to_single"),
      rentType.as("rent_type"),
      when(allNull && cat2 === "خرید", "توافقی").as("price_mode"),
      priceSell.cast(LongType).as("price_value"),
      when(allNull && cat2 === "اجاره", "توافقی").as("credit_mode"),
      priceMortgage.as("credit_value"),
      lit(null).cast(BooleanType).as("rent_credit_transform"),
      lit(null).cast(BooleanType).as("transformable_price"),
      lit(null).cast(BooleanType).as("transformable_credit"),
      lit(null).cast(DoubleType).as("transformed_credit"),
      lit(null).cast(BooleanType).as("transformable_rent"),
      lit(null).cast(DoubleType).as("transformed_rent"),
      lit(null).cast(DoubleType).as("land_size"),
      dd("area").as("building_size"),
      lit(null).cast(StringType).as("deed_type"),
      lit(null).cast(BooleanType).as("has_business_deed"),
      // DELIBERATE canonicalization: the reference leaves floor as the
      // raw string (it is absent from its numeric_fields pass,
      // mrestate_transformer.py:136,231-243) and rooms_count as a float —
      // the engine's unified listing schema types them int like the
      // other three sites, applying the same digits-then-int parse the
      // numeric pass uses.
      PersianText.toLongOrNull(md("floor")).cast(IntegerType).as("floor"),
      dd("num_bedrooms").cast(IntegerType).as("rooms_count"),
      lit(null).cast(IntegerType).as("total_floors_count"),
      lit(null).cast(IntegerType).as("unit_per_floor"),
      md("balcony").as("has_balcony"),
      md("elevator").as("has_elevator"),
      md("storeHouse").as("has_warehouse"),
      coalesce(md("parking") > 0, lit(false)).as("has_parking"),
      PersianText.toLongOrNull(dd("year_constructed")).cast(IntegerType)
        .as("construction_year"),
      lit(null).cast(BooleanType).as("is_rebuilt"),
      lit(null).cast(BooleanType).as("has_water"),
      lit(null).cast(StringType).as("has_warm_water_provider"),
      lit(null).cast(BooleanType).as("has_electricity"),
      lit(null).cast(BooleanType).as("has_gas"),
      lit(null).cast(StringType).as("has_heating_system"),
      lit(null).cast(StringType).as("has_cooling_system"),
      lit(null).cast(StringType).as("has_restroom"),
      md("security").as("has_security_guard"),
      lit(null).cast(BooleanType).as("has_barbecue"),
      lit(null).cast(StringType).as("building_direction"),
      md("pool").as("has_pool"),
      md("jacuzzi").as("has_jacuzzi"),
      md("sauna").as("has_sauna"),
      lit(null).cast(StringType).as("floor_material"),
      lit(null).cast(StringType).as("property_type"),
      lit(null).cast(IntegerType).as("regular_person_capacity"),
      lit(null).cast(IntegerType).as("extra_person_capacity"),
      lit(null).cast(LongType).as("cost_per_extra_person"),
      lit(null).cast(LongType).as("rent_price_on_regular_days"),
      lit(null).cast(LongType).as("rent_price_on_special_days"),
      lit(null).cast(LongType).as("rent_price_at_weekends"),
      dd("latitude").as("location_latitude"),
      dd("longitude").as("location_longitude"),
      lit(null).cast(DoubleType).as("location_radius"),
      images.as("images"),
      breadCrumbStr.as("bread_crumb"))
  }

  // ---------------------------------------------------------------- kilid

  /** Kilid fetch envelope (kilid_fetcher.py:25-33): the HTML body stays an
    * ingestion-edge payload; the typed envelope fields flow through. */
  val kilidEnvelopeSchema: StructType = StructType(Seq(
    StructField("content_url", StringType),
    StructField("html_content", StringType),
    StructField("status_code", IntegerType),
    StructField("fetched_at", StringType),
    StructField("listingType", StringType),
    StructField("propertyType", StringType),
    StructField("landuseType", StringType)))

  /** Kilid envelope → canonical identity/categorization columns plus the
    * raw HTML for the edge parser; cat1 = BUY/RENT listing type
    * (kilid_transformer.py:369-446, kilid_crawler.py:234-241). */
  def kilidEnvelope(raw: DataFrame, jsonCol: String): DataFrame = {
    val parsed = raw.withColumn("__d", from_json(col(jsonCol), kilidEnvelopeSchema))
    val d = col("__d")
    parsed.select(
      d("content_url").as("content_url"),
      d("listingType").as("cat1_slug"),
      d("propertyType").as("cat2_slug"),
      d("landuseType").as("cat3_slug"),
      d("status_code").as("status_code"),
      to_timestamp(d("fetched_at")).as("fetched_at"),
      d("html_content").as("html_content"))
  }
}
