package graft

/** The SQL-facing function surface: graft_* functions resolve from plain
  * SQL once GraftExtensions installs them (the same code path a session
  * built with `spark.sql.extensions=graft.GraftExtensions` runs at
  * construction). Uses the shared test session — suites run in one JVM,
  * so building/stopping a private session here would break siblings. */
class ExtensionsSuite extends SparkSuite {

  test("graft functions are SQL-callable after extension install") {
    GraftExtensions.install(spark)
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)

    val sh = spark.sql(
      "SELECT graft_shingles(array('a','b','c','d'), 3) AS s")
      .head().getSeq[String](0)
    assert(sh.toSet == Set("a b c", "b c d"))

    val sig = spark.sql(
      "SELECT graft_minhash(array('x','y','z'), 8) AS m")
      .head().getSeq[Long](0)
    assert(sig.length == 8)
    // deterministic across calls
    val sig2 = spark.sql(
      "SELECT graft_minhash(array('x','y','z'), 8) AS m")
      .head().getSeq[Long](0)
    assert(sig == sig2)

    val hp = spark.sql(
      "SELECT graft_hyperplane_sig(array(0.6d, -0.8d), 8, 4, 42L) AS h")
      .head().getSeq[Long](0)
    assert(hp.length == 4)
    assert(hp.forall(s => s >= 0 && s < 256), "8-bit band signatures")

    val is = spark.sql(
      "SELECT graft_intersect_size(array(1L,3L,5L,9L), array(2L,3L,5L,8L,9L)) AS c")
      .head().getInt(0)
    assert(is == 3)

    val shh = spark.sql(
      "SELECT graft_shingle_hashes(array('a','b','c','d'), 3) AS h")
      .head().getSeq[Long](0)
    assert(shh.length == 2 && shh == shh.distinct.sorted,
      "two 3-gram windows, sorted distinct hashes")

    val sim = spark.sql("SELECT graft_simhash64('alpha beta gamma') AS s")
      .head().getLong(0)
    val sim2 = spark.sql("SELECT graft_simhash64('alpha beta gamma') AS s")
      .head().getLong(0)
    assert(sim == sim2, "simhash deterministic")

    val ds = spark.sql("SELECT graft_deletion_sigs('abc') AS d")
      .head().getSeq[Long](0)
    assert(ds.length == 4, "s plus its three single-char deletions")

    // md5-position bloom pair: build a bitmap over grams in SQL, then
    // count hits — an inserted gram always hits (no false negatives)
    val bmHits = spark.sql(
      """SELECT graft_bloom_text_hits(
           (SELECT graft_md5_bloom_agg(g, 1024, 5)
            FROM (SELECT explode(array('a b', 'c d')) AS g)),
           array('a b', 'z z'), 5) AS h""")
      .head().getInt(0)
    assert(bmHits >= 1, "inserted gram must hit the bloom")

    // the fused media kernels resolve from SQL too: a real PNG hashes
    // to a non-null 64-bit word, junk bytes to NULL (the dead-letter
    // contract), and the audio kernel behaves the same on a WAV
    val png = java.util.Base64.getEncoder.encodeToString(
      graft.multimodal.Multimodal.syntheticPng(3L, 0))
    val mp = spark.sql(
      s"SELECT graft_media_phash(unbase64('$png')) AS h, " +
        "graft_media_phash(CAST('junk' AS BINARY)) AS j").head()
    assert(!mp.isNullAt(0) && mp.isNullAt(1),
      "media phash: PNG hashes, junk is NULL")
    val wav = java.util.Base64.getEncoder.encodeToString(
      graft.multimodal.Multimodal.syntheticWav(3L))
    val ab = spark.sql(
      s"SELECT graft_audio_band_hash(unbase64('$wav')) AS h, " +
        "graft_audio_band_hash(CAST('junk' AS BINARY)) AS j").head()
    assert(!ab.isNullAt(0) && ab.isNullAt(1),
      "audio band hash: WAV hashes, junk is NULL")
    val gvc = java.util.Base64.getEncoder.encodeToString(
      graft.multimodal.Multimodal.VideoContainer.encode(
        Seq((0L, graft.multimodal.Multimodal.syntheticPng(3L, 0)))))
    val vf = spark.sql(
      s"SELECT graft_video_frame_hashes(unbase64('$gvc')) AS h, " +
        "graft_video_frame_hashes(CAST('junk' AS BINARY)) AS j").head()
    assert(!vf.isNullAt(0) && vf.getSeq[Long](0).length == 1 &&
      vf.isNullAt(1),
      "video frame hashes: container hashes per frame, junk is NULL")

    val phs = spark.sql(
      "SELECT graft_pinned_hyperplane_sig(array(0.5d, -0.25d), 8, 4, 2) AS s")
      .head().getSeq[Long](0)
    assert(phs.length == 4,
      "pinned hyperplane signatures resolve from SQL")
  }

  test("graft_intersect_size agrees with array_intersect on random sorted sets") {
    GraftExtensions.install(spark)
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      def lit(s: Seq[Long]) =
        if (s.isEmpty) "CAST(array() AS ARRAY<BIGINT>)"
        else s.mkString("array(", "L,", "L)")
      val row = spark.sql(
        s"SELECT graft_intersect_size(${lit(a)}, ${lit(b)}) AS c, " +
          s"size(array_intersect(${lit(a)}, ${lit(b)})) AS e").head()
      assert(row.getInt(0) == row.getInt(1),
        s"a=$a b=$b got=${row.getInt(0)} want=${row.getInt(1)}")
    }
  }

  test("install is idempotent") {
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    assert(spark.sql("SELECT graft_dot(array(2.0d), array(3.0d))")
      .head().getDouble(0) == 6.0)
  }

  test("Views.register makes the whole engine usable from pure SQL") {
    graft.Views.register(spark, "/root/testdata/sf0.001")
    // a TPC-H-style join/agg via spark.sql matches the DataFrame program
    val sqlRows = spark.sql("""
      SELECT n_name, COUNT(*) AS n
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n DESC, n_name LIMIT 5""").collect()
    assert(sqlRows.length == 5 && sqlRows.forall(_.getLong(1) > 0))
    // the engine's own codegen functions compose with the views in SQL
    val sim = spark.sql("""
      SELECT a.vec_id, b.vec_id,
             graft_dot(CAST(a.embedding AS ARRAY<DOUBLE>),
                       CAST(b.embedding AS ARRAY<DOUBLE>)) AS dot
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      LIMIT 3""").collect()
    assert(sim.length == 3)
  }

  test("KernelSubstitution rewrites the HOF dot product to the codegen kernel") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.5, -1.0), Seq(2.0, 2.0)),
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)) // ragged: must stay null
    ).toDF("a", "b")
    def hofDot = aggregate(zip_with(col("a"), col("b"), _ * _), lit(0.0), _ + _)
    def results(d: org.apache.spark.sql.DataFrame): Seq[Option[Double]] =
      d.select(hofDot.as("d")).collect().toSeq
        .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val plain = results(df) // un-rewritten reference
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prior :+ graft.plans.KernelSubstitution
    // keep the LocalRelation in the plan so the rewrite is observable
    // (ConvertToLocalRelation would otherwise constant-fold the whole
    // projection before the assertion can see it)
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try {
      val q = df.select(hofDot.as("d"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("graft_dot"),
        s"rule did not substitute the kernel:\n$p")
      assert(results(df) == plain,
        "kernel substitution changed results (incl. the ragged-row null)")
      assert(plain == Seq(Some(32.0), Some(-1.0), None))
      // a pattern that does NOT match (different zero) must be untouched
      val other = df.select(
        aggregate(zip_with(col("a"), col("b"), _ * _), lit(1.0), _ + _).as("d"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("graft_dot"))
    } finally {
      spark.experimental.extraOptimizations = prior
      spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }
}
