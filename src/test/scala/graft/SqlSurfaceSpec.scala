package graft

/** The SQL front door (`GraftFunctions.attach`): the expression family
  * registers in the session's FunctionRegistry, the fixture tables
  * register as named views, and one declared query per family — written
  * in PLAIN Spark SQL, no Scala API — returns bit-identical rows to its
  * DataFrame twin. Families with no SQL-expressible form (iterative
  * graph, streaming state) are covered by their own specs; everything
  * here — including the registered media-codec UDFs — goes through
  * `spark.sql("...")` only.
  */
class SqlSurfaceSpec extends SparkSpec {

  // registered once per suite; idempotent (createOrReplace semantics)
  private lazy val attached: Unit = GraftFunctions.attach(spark, sfDir)

  /** Rows as comparable values, order-insensitively (both sides carry
    * the query's own ORDER BY, but ties under a non-total ORDER BY may
    * interleave differently between two physically different plans).
    */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0000"))

  private def assertTwin(name: String, sql: String): Unit = {
    attached
    val viaDf = rowsOf(SparkEntry.queries(name)(spark, sfDir))
    val viaSql = rowsOf(spark.sql(sql))
    assert(viaDf.nonEmpty, s"$name: empty result would prove nothing")
    assert(viaSql === viaDf, s"$name: SQL twin diverged from DataFrame twin")
  }

  test("cdc_route from plain SQL (CDC family)") {
    assertTwin("cdc_route",
      """SELECT event_id, 'db' || '.' || event_type AS topic
         FROM events ORDER BY event_id""")
  }

  test("cdc_value_extjson from plain SQL (native ext_json_canonical)") {
    assertTwin("cdc_value_extjson",
      """SELECT event_id,
                ext_json_canonical(named_struct(
                  'event_id', event_id, 'user_id', user_id,
                  'op', event_type)) AS value
         FROM events ORDER BY event_id""")
  }

  test("cdc_key_envelope from plain SQL (Connect envelope)") {
    assertTwin("cdc_key_envelope",
      """SELECT event_id,
                to_json(named_struct(
                  'schema', named_struct('type', 'string', 'optional', false),
                  'payload', CAST(user_id AS STRING))) AS key
         FROM events ORDER BY event_id""")
  }

  test("cdc_json_extract from plain SQL (dynamic payload)") {
    assertTwin("cdc_json_extract",
      """SELECT event_id, CAST(get_json_object(props, '$.k') AS INT) AS k
         FROM events ORDER BY event_id""")
  }

  test("join_semi from plain SQL (join family)") {
    assertTwin("join_semi",
      """SELECT o_orderkey FROM orders
         WHERE EXISTS (SELECT 1 FROM customer
                       WHERE c_custkey = o_custkey
                         AND c_mktsegment = 'BUILDING')
         ORDER BY o_orderkey""")
  }

  test("rel_q1 from plain SQL (TPC-H family)") {
    assertTwin("rel_q1",
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                round(avg(l_quantity), 4) AS avg_qty,
                round(avg(l_extendedprice), 4) AS avg_price,
                round(avg(l_discount), 4) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")
  }

  test("agg_distinct from plain SQL (aggregation family)") {
    assertTwin("agg_distinct",
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""")
  }

  test("win_rank from plain SQL (window family)") {
    assertTwin("win_rank",
      """SELECT o_custkey, rk, o_orderkey, round(o_totalprice, 2) AS price
         FROM (SELECT *, CAST(row_number() OVER
                 (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
               FROM orders)
         WHERE rk <= 3 ORDER BY o_custkey, rk""")
  }

  test("ts_tumble from plain SQL (time-series family)") {
    assertTwin("ts_tumble",
      """SELECT date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss') AS hour,
                event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")
  }

  test("text_fingerprint from plain SQL (text family)") {
    assertTwin("text_fingerprint",
      """SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))) AS fp
         FROM documents ORDER BY doc_id""")
  }

  test("doc_dedup_exact from plain SQL (dedup family)") {
    assertTwin("doc_dedup_exact",
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents
         GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')))
         ORDER BY keep_id""")
  }

  test("doc_sample_hash from plain SQL (md5_bucket sampling)") {
    assertTwin("doc_sample_hash",
      """SELECT doc_id, source, lang FROM documents
         WHERE md5_bucket(text, 8) = 0
         ORDER BY doc_id""")
  }

  test("text_winnow from plain SQL (winnow_fingerprints UDF)") {
    // the scalar UDF's contract with the column pipeline is SET
    // equality per doc (order unspecified) — rowsOf sorts, so exact
    assertTwin("text_winnow",
      """SELECT doc_id, fp
         FROM (SELECT doc_id, explode(winnow_fingerprints(text)) AS fp
               FROM documents)
         ORDER BY doc_id, fp""")
  }

  test("vec_knn from plain SQL (cosine_similarity over views)") {
    // probe vector = vec_id 42, the declared query's SharedProbe
    assertTwin("vec_knn",
      """SELECT vec_id, round(cosine_similarity(embedding, pv), 6) AS sim
         FROM embeddings
         CROSS JOIN (SELECT embedding AS pv FROM embeddings WHERE vec_id = 42)
         ORDER BY cosine_similarity(embedding, pv) DESC, vec_id
         LIMIT 10""")
  }

  test("gov_k_anon from plain SQL (governance family)") {
    assertTwin("gov_k_anon",
      """WITH g AS (SELECT event_type,
                           CAST(hour(ts) AS BIGINT) AS h,
                           CAST(day(ts) AS BIGINT) AS d,
                           count(*) AS n
                    FROM events GROUP BY 1, 2, 3)
         SELECT event_type, h, d, n FROM g WHERE n >= 5
         UNION ALL
         SELECT '__suppressed__', -1L, -1L,
                CAST(coalesce(sum(n), 0) AS BIGINT)
         FROM g WHERE n < 5
         ORDER BY event_type, h, d""")
  }

  test("md5_bucket SQL form is bit-identical to the Scala form at both arities") {
    attached
    import org.apache.spark.sql.functions.col
    val viaSql = spark.sql(
      """SELECT doc_id, md5_bucket(text) AS b1, md5_bucket(text, 8) AS b8
         FROM documents ORDER BY doc_id""").collect().map(_.toSeq)
    val viaScala = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.functions.Hashing.md5Bucket(col("text")).as("b1"),
        graft.functions.Hashing.md5Bucket(col("text"), 8).as("b8"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(viaSql === viaScala)
  }

  test("bloom_might_contain in SQL has no false negatives over dim keys") {
    attached
    import java.io.ByteArrayOutputStream
    val dim = Tables.table(spark, sfDir, "customer")
    val bloom = dim.stat.bloomFilter("c_custkey", 1000, 0.01)
    val bytes = { val bos = new ByteArrayOutputStream(); bloom.writeTo(bos); bos.toByteArray }
    val hex = bytes.map(b => f"$b%02x").mkString
    val n = spark.sql(
      s"""SELECT count(*) AS misses FROM customer
          WHERE NOT bloom_might_contain(unhex('$hex'), CAST(c_custkey AS BIGINT))""")
      .head().getLong(0)
    assert(n === 0L, "a Bloom filter must not reject its own keys")
  }

  test("ext_json_get unwraps canonical tags from SQL") {
    attached
    val r = spark.sql(
      """SELECT ext_json_get(ext_json_canonical(named_struct('v', 42L)), '$.v') AS v,
                ext_json_get('{"s": "plain"}', '$.s') AS s""").head()
    assert(r.getString(0) === "42")
    assert(r.getString(1) === "plain")
  }

  test("bson conventions render canonically from SQL") {
    attached
    val r = spark.sql(
      """SELECT ext_json_canonical(named_struct(
                  '_id', object_id(unhex('0102030405060708090a0b0c')),
                  'ct', bson_timestamp(7L, 1L),
                  'rx', bson_regex('^a.*', 'i'),
                  'dec', bson_decimal128('1E-6143'),
                  'bin', bson_binary(unhex('ff'), '04'))) AS j""").head()
    val j = r.getString(0)
    assert(j.contains(""""_id":{"$oid":"0102030405060708090a0b0c"}"""), j)
    assert(j.contains(""""ct":{"$timestamp":{"t":7,"i":1}}"""), j)
    assert(j.contains(""""rx":{"$regularExpression":{"pattern":"^a.*","options":"i"}}"""), j)
    assert(j.contains(""""dec":{"$numberDecimal":"1E-6143"}"""), j)
    assert(j.contains(""""bin":{"$binary":{"base64":"/w==","subType":"04"}}"""), j)
  }

  test("the perceptual hashes of all three modalities run from plain SQL") {
    attached
    // the media frame itself is fixture-building (encode UDFs); the
    // operators under test are the registered DECODE hashes
    graft.multimodal.Multimodal
      .fakeMediaFromDocs(Tables.table(spark, sfDir, "documents"))
      .createOrReplaceTempView("media")
    assertTwin("mm_phash",
      """SELECT media_id, lpad(bin(image_dhash(bytes)), 64, '0') AS fp_bits
         FROM media WHERE kind = 'image' ORDER BY media_id""")
    assertTwin("mm_audio_fp",
      """SELECT media_id, lpad(bin(audio_fingerprint(bytes)), 64, '0') AS fp_bits
         FROM media WHERE kind = 'audio' ORDER BY media_id""")
    assertTwin("mm_video_fp",
      """SELECT media_id, lpad(bin(video_fingerprint(bytes)), 64, '0') AS fp_bits
         FROM media WHERE kind = 'video' ORDER BY media_id""")
    // NULL bytes hash to NULL in each of the three
    val nulls = spark.sql(
      """SELECT image_dhash(CAST(NULL AS BINARY)),
                audio_fingerprint(CAST(NULL AS BINARY)),
                video_fingerprint(CAST(NULL AS BINARY))""").head()
    assert((0 until 3).forall(nulls.isNullAt), nulls)
  }

  test("the extensions injection path registers the same surface on a fresh session") {
    // the cluster deployment path (`spark.sql.extensions` /
    // `.withExtensions`) on a genuinely fresh session over the shared
    // context — getOrCreate would return the default session and drop
    // the extensions, so the glue helper builds the session directly.
    // NO registerAll ran on s2: resolution proves the injection.
    val s2 = org.apache.spark.sql.graftglue.glue.sessionWithExtensions(
      spark.sparkContext, new GraftExtensions()(_))
    val r = s2.sql(
      """SELECT md5_bucket('abc', 10) AS b,
                dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""")
      .head()
    val expectBucket = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("abc").take(8), 16) % 10L
    assert(r.getLong(0) === expectBucket)
    assert(math.abs(r.getDouble(1) - 11.0) < 1e-12)
  }
}
