package graft

import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._

/** End-to-end st_* function checks on real DataFrames (registry, struct
  * encoding, null handling, SQL-text invocation). */
class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("parse -> write round trip on a DataFrame incl. nulls") {
    val df = Seq(
      ("POINT (-116.4 45.2)"),
      ("POLYGON ((100 1, 104 2, 101 3, 100 1), (100 1, 103 2, 101 5, 100 1))"),
      ("MULTIPOLYGON (((40 40, 20 45, 45 30, 40 40)))"),
      (null: String)
    ).toDF("wkt")
    val out = df.select(st_astext(st_try_geomfromtext($"wkt"), 1).as("w2")).collect()
    assert(out(0).getString(0) == "POINT (-116.4   45.2)") // dump_point pads to common width
    assert(out(1).getString(0).startsWith("POLYGON ((100.0 1.0, "))
    assert(out(3).isNullAt(0))
  }

  test("st_* callable from SQL text") {
    val r = spark.sql(
      "SELECT st_iswkt('POINT (1 2)') AS a, st_iswkt('point (1 2)') AS b, " +
        "st_astext(st_geomfromtext('LINESTRING (0 1, 2 3)'), 0) AS c").collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getString(2) == "LINESTRING (0 1, 2 3)")
  }

  test("EMPTY geometries parse, round-trip, and st_isempty") {
    val r = spark.sql(
      "SELECT st_isempty(st_geomfromtext('POINT EMPTY')) AS a, " +
        "st_isempty(st_geomfromtext('multipolygon empty')) AS b, " +
        "st_isempty(st_geomfromtext('POINT (1 2)')) AS c, " +
        "st_astext_compact(st_geomfromtext('POINT EMPTY')) AS d, " +
        "st_isempty(st_geomfromtext('GEOMETRYCOLLECTION EMPTY')) AS e, " +
        "st_isempty(st_geomfromtext('GEOMETRYCOLLECTION (POINT (1 2))')) AS f").collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1) && !r.getBoolean(2))
    // a no-parts collection IS empty; one with members is not
    assert(r.getBoolean(4) && !r.getBoolean(5))
    // writer->parser round trip closes: compact writer emits 'POINT EMPTY'
    assert(r.getString(3) == "POINT EMPTY")
  }

  test("type mismatches are analysis-time errors or implicit casts, not runtime CCEs") {
    // bigint fmt arg: implicit cast makes it work
    assert(spark.sql("SELECT st_astext(st_geomfromtext('POINT (1 2)'), 0L) AS t")
      .collect()(0).getString(0) == "POINT (1 2)")
    // non-castable input: rejected during analysis
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT st_geomfromtext(array(1, 2))").collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH") || e.getMessage.contains("data type mismatch"))
    // minhash_set takes hashed (array<bigint>) sets only
    val m = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_set(array('a', 'b'), 4)").collect()
    }
    assert(m.getMessage.contains("minhash_set expects (array<bigint>, int)"), m.getMessage)
  }

  test("centroid / wkb / geojson / properties on DataFrames") {
    val df = Seq("MULTIPOINT ((100.000 3.101), (101.000 2.100), (3.140 2.180))").toDF("wkt")
      .withColumn("g", st_geomfromtext($"wkt"))
    val c = df.select(st_centroid($"g")).collect()(0).getStruct(0)
    assert(math.abs(c.getDouble(0) - (100.0 + 101.0 + 3.14) / 3) < 1e-12)
    val wkb = df.select(st_wkb_wkt(st_aswkb($"g"))).collect()(0).getString(0)
    assert(wkb == "MULTIPOINT(100 3.101,101 2.1,3.14 2.18)")
    val gj = df.select(st_asgeojson($"g")).collect()(0).getString(0)
    assert(gj.contains("\"type\":\"Feature\"") && gj.contains("\"MultiPoint\""))
    val withProps = df.select(st_properties(st_asgeojson($"g"),
      lit("""{"color":"red"}"""), lit(null).cast("string"))).collect()(0).getString(0)
    assert(withProps.contains("\"properties\""))
    assert(withProps.contains("\"color\":\"red\""))
    val fc = df.select(st_as_featurecollection(st_asgeojson($"g"))).collect()(0).getString(0)
    assert(fc.startsWith("{\"type\":\"FeatureCollection\""))
  }

  test("constructor family over columns") {
    val df = Seq((Seq(Seq(100.0, 3.101), Seq(101.0, 2.1), Seq(3.14, 2.18)))).toDF("pts")
    assert(df.select(st_multipoint_wkt($"pts", 0)).collect()(0).getString(0) ==
      "MULTIPOINT ((100.000 3.101), (101.0 2.1), (3.14 2.18))")
    assert(df.select(st_linestring_wkt($"pts", 0)).collect()(0).getString(0) ==
      "LINESTRING (100.000 3.101, 101.0 2.1, 3.14 2.18)")
    val gc = Seq(Seq("POINT (1 2)", "LINESTRING (0 1, 2 3)")).toDF("ws")
    assert(gc.select(st_collect_wkt($"ws")).collect()(0).getString(0) ==
      "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 1, 2 3))")
  }

  test("numeric=FALSE geojson path formats coordinates as strings") {
    val df = Seq("POINT (-116.4 45.2)").toDF("wkt")
    val s = df.select(st_asgeojson(st_geomfromtext($"wkt"), feature = true,
      numeric = false, fmt = 2)).collect()(0).getString(0)
    assert(s.contains("\"-116.40\"") && s.contains("\"45.20\""))
  }

  test("text expressions: minhash/simhash/langid/fingerprint") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "the quick brown fox jumps over the lazy dog and runs away quickly"),
      (3L, "der schnelle braune fuchs springt und das ist ein ganz anderer satz")
    ).toDF("id", "text")
    val rows = df.select($"id", minhash($"text", 64, 3).as("mh"), simhash($"text").as("sh"),
      lang_id($"text").as("lang"), doc_fingerprint($"text", 8).as("fp")).collect()
    val mh1 = rows(0).getSeq[Long](1); val mh2 = rows(1).getSeq[Long](1)
    val agree = mh1.zip(mh2).count { case (a, b) => a == b }
    assert(agree > 32, s"near-identical docs should agree on most minhashes, got $agree/64")
    val h12 = java.lang.Long.bitCount(rows(0).getLong(2) ^ rows(1).getLong(2))
    val h13 = java.lang.Long.bitCount(rows(0).getLong(2) ^ rows(2).getLong(2))
    assert(h12 < h13, "simhash distance should order near-dup < unrelated")
    assert(rows(0).getString(3) == "en" && rows(2).getString(3) == "de")
    assert(rows(0).getLong(4) != rows(2).getLong(4))
  }

  test("wktview analog emits a centroid-centered leaflet document") {
    val html = Seq("POINT (-116.4000000000000057 45.2000000000000028)",
        "POLYGON ((100 0, 101 0, 101 1, 100 1, 100 0))")
      .toDF("wkt").select(st_wktview($"wkt", 9)).collect().map(_.getString(0))
    // point: view centered on the point itself, [lat, lon] order
    // (doubles render shortest-form, like the JSON coordinates)
    assert(html(0).contains("setView([45.2,-116.4],9"))
    assert(html(0).contains("\"type\":\"Feature\""))
    assert(html(0).contains("\"properties\":{\"style\":{}}"), "properties(style=list(NULL)) analog")
    // polygon: mean-of-vertices centroid (5 ring points, closing repeated:
    // lon (100+101+101+100+100)/5, lat (0+0+1+1+0)/5)
    assert(html(1).contains("setView([0.4,100.4],9"))
    assert(html(1).contains("\"type\":\"Polygon\""))
    assert(html(1).startsWith("<!DOCTYPE html>") && html(1).endsWith("</body></html>"))
    // reference not_some contract: junk input is an error, not a silent map
    intercept[Exception] {
      Seq("SQUARE (1 2)").toDF("wkt").select(st_wktview($"wkt", 5)).collect()
    }
    // EMPTY geometry has no view center: st_centroid's null contract, not
    // a task-killing throw
    val empty = Seq("POINT EMPTY").toDF("wkt").select(st_wktview($"wkt", 5)).collect()
    assert(empty(0).isNullAt(0), "wktview(EMPTY) must be null")
  }

  test("doc_fingerprint is the portable md5-min over k-char windows") {
    import graft.functions.textexprs.portableHash60
    val fp = Seq((1L, "abc"), (2L, "abcdefghijklmnopqr"))
      .toDF("id", "text")
      .select(doc_fingerprint($"text", 16)).collect().map(_.getLong(0))
    assert(fp(0) == portableHash60("abc")) // shorter than k -> whole text
    val windows = (0 to 2).map(i => portableHash60("abcdefghijklmnopqr".substring(i, i + 16)))
    assert(fp(1) == windows.min)
    // shift invariance: any text containing the minimizing window agrees
    assert(fp(1) >= 0, "portable hash is 60-bit, always non-negative")
  }

  test("vec_lsh_bucket: deterministic, bit-bounded, near-dup stable") {
    val df = Seq(
      (1L, Seq.fill(16)(0.5f)),
      (2L, Seq.fill(16)(0.5005f)), // tiny perturbation -> same signs
      (3L, (0 until 16).map(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val b = df.select(vec_lsh_bucket(
        expr("transform(embedding, x -> CAST(x AS DOUBLE))"), 8))
      .collect().map(_.getLong(0))
    assert(b.forall(v => v >= 0 && v < 256), "8-bit bucket range")
    assert(b(0) == b(1), "scaled near-identical vectors share a bucket")
    assert(b(0) != b(2), "sign-flipped vector lands elsewhere")
    // same input -> same bucket on re-evaluation (pure, seeded)
    val again = df.where($"vec_id" === 1).select(vec_lsh_bucket(
      expr("transform(embedding, x -> CAST(x AS DOUBLE))"), 8)).collect()(0).getLong(0)
    assert(again == b(0))
  }

  test("redactPii scrubs emails, IPv4s and +numbers; counts match") {
    import graft.functions.Pii
    val rows = Seq(
      (1L, "mail a.b-c_d@ex-ample.org then +12345678 and 192.168.0.1 done"),
      (2L, "no pii at all"),
      (3L, "two mails x@y.io z@w.co and ip 1.2.3.4 ip 10.0.0.255"),
      // +123456 is 6 digits (below the 7-digit phone floor, kept);
      // 999.999.999.999 matches the dotted-quad SHAPE — the scrubber is
      // deliberately shape-based, over-redaction beats leaking
      (4L, "+123456 too short plus 999.999.999.999 odd but redacted"),
      // mixed-case email must redact; a 16-digit run must redact WHOLLY
      (5L, "John.Doe@Gmail.COM and +1234567890123456 long")
    ).toDF("id", "t")
    val got = rows.select(col("id"), Pii.redactPii(col("t")).as("r"),
        Pii.piiCount(col("t"), Pii.EmailPattern).as("ne"),
        Pii.piiCount(col("t"), Pii.Ipv4Pattern).as("ni"),
        Pii.piiCount(col("t"), Pii.PhonePattern).as("np"))
      .orderBy("id").collect()
      .map(r => (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(got(0) == (("mail [EMAIL] then [PHONE] and [IP] done", 1, 1, 1)))
    assert(got(1) == (("no pii at all", 0, 0, 0)))
    assert(got(2) == (("two mails [EMAIL] [EMAIL] and ip [IP] ip [IP]", 2, 2, 0)))
    assert(got(3) == (("+123456 too short plus [IP] odd but redacted", 0, 1, 0)))
    assert(got(4) == (("[EMAIL] and [PHONE] long", 1, 0, 1)))
  }
}
