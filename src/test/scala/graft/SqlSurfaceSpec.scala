package graft

/** The SQL surface: every registered engine function callable from
  * spark.sql with the same results as the DataFrame/Scala forms.
  */
class SqlSurfaceSpec extends SparkSpecBase {

  test("geometry codecs round-trip through pure SQL") {
    val row = spark.sql(
      """SELECT
        |  st_asgeojson('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))') AS gj,
        |  geojson_to_wkt('{"type":"Point","coordinates":[-73.98,40.75]}') AS wkt,
        |  st_multi('POLYGON ((0 0, 1 0, 1 1, 0 0))') AS multi,
        |  st_envelope_box('MULTIPOLYGON (((1 2, 5 2, 5 9, 1 9, 1 2)))') AS env
        |""".stripMargin).head
    assert(row.getAs[String]("gj") ==
      """{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}""")
    assert(row.getAs[String]("wkt") == "POINT (-73.98 40.75)")
    assert(row.getAs[String]("multi") == "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))")
    val env = row.getStruct(row.fieldIndex("env"))
    assert(env.getDouble(0) == 1.0 && env.getDouble(3) == 9.0)
  }

  test("text primitives work from SQL and agree with the Scala surface") {
    val row = spark.sql(
      """SELECT
        |  lang_id('der rat der stadt ist mit der planung nicht zufrieden') AS lang,
        |  simhash64(split('alpha beta gamma', ' ')) AS sim,
        |  size(minhash_sig(array('a b c', 'b c d'))) AS k,
        |  size(winnow_fingerprints('a reasonably long sentence for fingerprinting windows')) AS nfp,
        |  fast_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
        |              CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS cos
        |""".stripMargin).head
    assert(row.getAs[String]("lang") == "de")
    assert(row.getAs[Int]("k") == graft.functions.TextFunctions.minhashK)
    assert(row.getAs[Int]("nfp") > 0)
    assert(row.getAs[Double]("cos") == 1.0)
  }

  test("every native function resolves from SQL in a child session with no registration call") {
    // one call per function GraftExtensions injects (the 9 native
    // expressions, then the 6 ScalaUDF aliases): a function left out of
    // the extension fails here as an unresolved routine
    val calls = Seq(
      "fast_cosine" -> "fast_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), CAST(array(1.0, 0.0) AS ARRAY<FLOAT>))",
      "lsh_band_keys" -> "lsh_band_keys(CAST(array(0.5, -0.5) AS ARRAY<FLOAT>), 2, 4)",
      "minhash_sig" -> "minhash_sig(array('a b c', 'b c d'))",
      "simhash64" -> "simhash64(split('alpha beta gamma', ' '))",
      "deflate_size" -> "deflate_size('aaaaaaaaaaaaaaaa')",
      "bpe_token_count" -> "bpe_token_count('low lower', array('l o', 'lo w'))",
      "morton_interleave" -> "morton_interleave(3L, 5L)",
      "hilbert_index" -> "hilbert_index(3L, 5L)",
      "vec_all_finite" -> "vec_all_finite(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>))",
      "lang_id" -> "lang_id('der rat der stadt')",
      "winnow_fingerprints" -> "winnow_fingerprints('a long sentence for fingerprinting')",
      "st_asgeojson" -> "st_asgeojson('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))')",
      "geojson_to_wkt" -> """geojson_to_wkt('{"type":"Point","coordinates":[1,2]}')""",
      "st_multi" -> "st_multi('POLYGON ((0 0, 1 0, 1 1, 0 0))')",
      "st_envelope_box" -> "st_envelope_box('POLYGON ((0 0, 1 0, 1 1, 0 0))')")
    assert(calls.size == 15)
    val child = spark.newSession()
    calls.foreach { case (name, call) =>
      assert(call.startsWith(s"$name("))
      assert(!child.sql(s"SELECT $call AS v").head.isNullAt(0), s"$name returned NULL")
    }
  }
}
