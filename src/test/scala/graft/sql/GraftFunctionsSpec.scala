package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import graft.spark.TestSpark

class GraftFunctionsSpec extends AnyFunSuite {
  import TestSpark.spark

  test("registered expressions roundtrip through SQL (codegen path)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, "abracadabra"),
      (2L, "the quick brown fox jumps over the lazy dog " * 20),
      (3L, ""),
      (4L, "naïve 中文 тест")
    ).toDF("id", "text")
    df.createOrReplaceTempView("t_sql_fn")
    val rows = spark.sql(
      "SELECT id, graft_decode(graft_encode(text)) AS rt, graft_fingerprint(text) AS fp FROM t_sql_fn"
    ).collect().sortBy(_.getLong(0))
    val src = df.collect().sortBy(_.getLong(0))
    rows.zip(src).foreach { case (r, s) =>
      assert(r.getString(1) == s.getString(1), s"roundtrip id ${r.getLong(0)}")
    }
    // fingerprint matches the pipeline implementation (String-based path)
    rows.zip(src).foreach { case (r, s) =>
      assert(r.getLong(2) == graft.pipeline.TextAnalysis.fingerprint(s.getString(1)))
    }
  }

  test("graft_decode_column decodes ColumnCodec payloads incl. null slots") {
    import spark.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    GraftFunctions.register(spark)
    val values: Array[Array[Byte]] =
      Array("alpha".getBytes(UTF_8), null, "".getBytes(UTF_8), "gamma 中文".getBytes(UTF_8))
    val payload = graft.codec.ColumnCodec.encodeBinaryNullable(values)
    Seq(Tuple1(payload)).toDF("p").createOrReplaceTempView("t_col_payload")
    val arr = spark.sql("SELECT graft_decode_column(p) AS vals FROM t_col_payload")
      .collect().head.getSeq[String](0)
    assert(arr == Seq("alpha", null, "", "gamma 中文"))
    // null payload cell -> null result (expression-level null safety)
    Seq(Tuple1(null: Array[Byte])).toDF("p").createOrReplaceTempView("t_null_payload")
    assert(spark.sql("SELECT graft_decode_column(p) FROM t_null_payload").collect().head.isNullAt(0))
    // binary twin: raw (non-UTF8) bytes come back untouched
    val binVals: Array[Array[Byte]] = Array(Array[Byte](0, -1, -2, 127), null, Array.emptyByteArray)
    Seq(Tuple1(graft.codec.ColumnCodec.encodeBinaryNullable(binVals)))
      .toDF("p").createOrReplaceTempView("t_bin_payload")
    val binArr = spark.sql("SELECT graft_decode_column_binary(p) AS vals FROM t_bin_payload")
      .collect().head.getSeq[Array[Byte]](0)
    assert(binArr.length == 3 && java.util.Arrays.equals(binArr.head, binVals.head))
    assert(binArr(1) == null && binArr(2).length == 0)
  }

  test("graft_fm_count: values match FmIndex; no-match is NULL, never 0") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // an empty text has no occurrence of anything: NULL
    val texts = Seq((1L, "abracadabra"), (2L, "no such pattern here"), (3L, "aaaa"), (4L, ""))
    texts.toDF("id", "text").createOrReplaceTempView("t_fmc")
    val rows = spark.sql(
      "SELECT id, graft_fm_count(text, 'a') AS ca, graft_fm_count(text, 'zzz') AS cz FROM t_fmc"
    ).collect().sortBy(_.getLong(0))
    texts.zip(rows).foreach { case ((_, t), r) =>
      val fm = graft.codec.FmIndex.build(t.getBytes("UTF-8"))
      assert(Option(if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)))
        .map(_.toInt) == fm.count("a".getBytes("UTF-8")))
      assert(r.isNullAt(2), "absent pattern must be NULL (reference Nothing), not 0")
    }
    assert(rows.find(_.getLong(0) == 4L).get.isNullAt(1), "graft_fm_count('', 'a') must be NULL")
  }

  test("graft_fm_locate: positions match FmIndex.locate; absent is NULL; multibyte byte offsets") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val texts = Seq((1L, "abracadabra"), (2L, "no such pattern"), (3L, "naïve ab naïve ab"), (4L, ""))
    texts.toDF("id", "text").createOrReplaceTempView("t_fml")
    val rows = spark.sql(
      "SELECT id, graft_fm_locate(text, 'ab') AS pa, graft_fm_locate(text, 'zzz') AS pz FROM t_fml"
    ).collect().sortBy(_.getLong(0))
    texts.zip(rows).foreach { case ((_, t), r) =>
      val expect = graft.codec.FmIndex.build(t.getBytes("UTF-8")).locate("ab".getBytes("UTF-8"))
      if (expect.isEmpty) assert(r.isNullAt(1), "absent pattern must be NULL (reference Nothing)")
      else assert(r.getSeq[Long](1) == expect.map(_.toLong).toSeq, s"row-ordered positions for '$t'")
      assert(r.isNullAt(2))
    }
    // 'naïve ab naïve ab': ï is 2 UTF-8 bytes, so 'ab' occurs at BYTE
    // positions 8 and 18 (1-based) — the locate is byte-addressed
    val multibyte = rows.find(_.getLong(0) == 3L).get.getSeq[Long](1).sorted
    assert(multibyte == Seq(8L, 18L), multibyte.toString)
    assert(rows.find(_.getLong(0) == 4L).get.isNullAt(1), "graft_fm_locate('', 'ab') must be NULL")
  }

  test("graft_simhash matches the pipeline simHash") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val texts = Seq((1L, "the quick brown fox"), (2L, "a a a b"), (3L, ""))
    texts.toDF("id", "text").createOrReplaceTempView("t_sh")
    val rows = spark.sql("SELECT id, graft_simhash(text) AS sh FROM t_sh")
      .collect().sortBy(_.getLong(0))
    texts.zip(rows).foreach { case ((_, t), r) =>
      assert(r.getLong(1) == graft.pipeline.Dedup.simHash(t))
    }
  }

  test("pure-SQL pruned point read: chunk-range + home-partition predicate pushes to the scan") {
    import spark.implicits._
    import graft.spark.{DecodeJob, EncodeConfig, EncodeJob, PagesGen}
    GraftFunctions.register(spark)
    val out = {
      val d = java.nio.file.Files.createTempDirectory("graft_sqlprune").toFile
      d.deleteOnExit(); d.getAbsolutePath + "/out"
    }
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val pages = PagesGen.generate(spark, 120, partitions = 4).collect()
    EncodeJob.run(spark, spark.createDataset(pages.toIndexedSeq), out, cfg)

    // the README recipe: a SQL user recovers lookupUrls' two-level pruning
    // with (a) the home partition from the stored _meta numbers and the
    // documented part_id formula, (b) the url_min/url_max range predicate
    val target = pages(67)
    val meta = EncodeJob.readMeta(spark, out).get
    spark.read.parquet(EncodeJob.chunksPath(out)).createOrReplaceTempView("chunks_sql")
    val pidSql =
      s"""cast(pmod(xxhash64(regexp_extract('${target.url}', 'https?://([^/]+)/', 1),
         |  pmod(xxhash64('${target.url}'), ${meta.saltFactor})), ${meta.numPartitions}) as int)""".stripMargin
    val homePid = spark.sql(s"SELECT $pidSql AS pid").collect().head.getInt(0)
    // the SQL formula IS partIdCol — pinned against the Scala expression
    val scalaPid = Seq(target.url).toDF("url")
      .select(EncodeJob.partIdCol(cfg).as("pid")).collect().head.getInt(0)
    assert(homePid == scalaPid, "SQL part_id formula must match partIdCol")

    val q = spark.sql(
      s"""SELECT p.url, p.text FROM (
         |  SELECT explode(zip_with(graft_decode_column(url.payload),
         |                          graft_decode_column(text.payload),
         |                          (u, t) -> struct(u AS url, t AS text))) AS p
         |  FROM chunks_sql
         |  WHERE part_id = $homePid
         |    AND url_min <= '${target.url}' AND url_max >= '${target.url}'
         |) q WHERE p.url = '${target.url}'""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString()
    // filters must appear INSIDE the pushed/partition lists: every parquet
    // scan prints "PushedFilters: [...]" / "PartitionFilters: [...]" (even
    // empty), so bare contains() checks would be vacuously true
    assert("""PushedFilters: \[[^\]]*url_min""".r.findFirstIn(plan).nonEmpty &&
      """PushedFilters: \[[^\]]*url_max""".r.findFirstIn(plan).nonEmpty,
      s"chunk-range predicate must reach the parquet scan's PushedFilters:\n$plan")
    assert("""PartitionFilters: \[[^\]]*part_id""".r.findFirstIn(plan).nonEmpty,
      s"home-partition predicate must prune the scan:\n$plan")
    val rows = q.collect()
    assert(rows.length == 1 && rows.head.getString(1) == target.text)
    // and it agrees with the Scala API it mirrors
    val api = DecodeJob.lookupUrls(spark, out, Seq(target.url)).collect()
    assert(api.length == 1 && api.head.text == rows.head.getString(1))
  }

  test("pure-SQL range and prefix reads: overlap predicate pushes to the scan; agree with the Scala API") {
    import spark.implicits._
    import graft.spark.{DecodeJob, EncodeConfig, EncodeJob, PagesGen}
    GraftFunctions.register(spark)
    val out = {
      val d = java.nio.file.Files.createTempDirectory("graft_sqlrange").toFile
      d.deleteOnExit(); d.getAbsolutePath + "/out"
    }
    val cfg = EncodeConfig(numPartitions = 4, chunkRows = 16)
    val pages = PagesGen.generate(spark, 150, partitions = 4).collect()
    EncodeJob.run(spark, spark.createDataset(pages.toIndexedSeq), out, cfg)
    spark.read.parquet(EncodeJob.chunksPath(out)).createOrReplaceTempView("chunks_range_sql")

    def decoded(where: String, outer: String) = spark.sql(
      s"""SELECT p.url, p.text FROM (
         |  SELECT explode(zip_with(graft_decode_column(url.payload),
         |                          graft_decode_column(text.payload),
         |                          (u, t) -> struct(u AS url, t AS text))) AS p
         |  FROM chunks_range_sql
         |  WHERE $where
         |) q WHERE $outer""".stripMargin)

    // RANGE: decodeUrlRange's SQL twin (chunk overlap on url_min/url_max)
    val sorted = pages.map(_.url).sorted
    val (lo, hi) = (sorted(30), sorted(90))
    val range = decoded(
      s"url_max >= '$lo' AND url_min < '$hi'",
      s"p.url >= '$lo' AND p.url < '$hi'")
    val rPlan = range.queryExecution.executedPlan.toString()
    assert("""PushedFilters: \[[^\]]*url_max""".r.findFirstIn(rPlan).nonEmpty &&
      """PushedFilters: \[[^\]]*url_min""".r.findFirstIn(rPlan).nonEmpty,
      s"range-overlap predicate must reach PushedFilters:\n$rPlan")
    val rGot = range.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val rApi = DecodeJob.decodeUrlRange(spark, out, lo, hi).collect()
      .map(p => p.url -> p.text).toMap
    assert(rGot == rApi && rGot.size == 60, s"range twin diverged: ${rGot.size} vs ${rApi.size}")

    // PREFIX: decodeUrlPrefix's SQL twin (host slice)
    val prefix = pages.head.url.takeWhile(_ != '/') + "//" +
      pages.head.url.split('/')(2) + "/"
    val pref = decoded(
      s"url_max >= '$prefix' AND (url_min < '$prefix' OR startswith(url_min, '$prefix'))",
      s"startswith(p.url, '$prefix')")
    val pPlan = pref.queryExecution.executedPlan.toString()
    assert("""PushedFilters: \[[^\]]*url_max""".r.findFirstIn(pPlan).nonEmpty,
      s"prefix-overlap predicate must reach PushedFilters:\n$pPlan")
    val pGot = pref.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val pApi = DecodeJob.decodeUrlPrefix(spark, out, prefix).collect()
      .map(p => p.url -> p.text).toMap
    assert(pGot == pApi && pGot.nonEmpty, s"prefix twin diverged (${pGot.size} vs ${pApi.size})")
  }

  test("graft_sample_residue matches the Sampling draw; bad denominator is NULL; ints widen") {
    import spark.implicits._
    GraftFunctions.register(spark)
    (0L until 200L).toDF("k").createOrReplaceTempView("t_samp")
    val rows = spark.sql(
      """SELECT k, graft_sample_residue(k, 1L, 4L) AS u,
        |       graft_sample_residue(k, 1, 4) AS u_int,
        |       graft_sample_residue(k, 0L, 0L) AS u_bad
        |FROM t_samp""".stripMargin).collect()
    rows.foreach { r =>
      val k = r.getLong(0)
      val expected = (graft.pipeline.Dedup.mix(k + 1) & Long.MaxValue) % 4
      assert(r.getLong(1) == expected, s"k=$k")
      assert(r.getLong(2) == expected, "integer literals must widen to long")
      assert(r.isNullAt(3), "den <= 0 must be NULL, not an exception")
    }
    // the draw actually samples (not all residues equal)
    assert(rows.map(_.getLong(1)).distinct.length == 4)
  }

  test("type checking rejects wrong input types") {
    GraftFunctions.register(spark)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_decode('not binary')").collect()
    }
    assert(err.getMessage.toLowerCase.contains("expects") ||
      err.getMessage.toLowerCase.contains("datatype") ||
      err.getMessage.toLowerCase.contains("data type"), err.getMessage)
  }

  test("extensions class injects the functions into a fresh session") {
    // the spark.sql.extensions entry point injects every function of the
    // one list register installs, graft_sample_residue included
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    assert(injected.toSeq == GraftFunctions.functions.map(_._1.funcName))
    assert(injected.contains("graft_sample_residue"))
    // programmatic path on an isolated session state
    val s2 = TestSpark.spark.newSession()
    GraftFunctions.register(s2)
    import s2.implicits._
    val n = s2.sql("SELECT graft_fingerprint('abc') AS fp").as[Long].head()
    assert(n == GraftFunctions.fingerprint(org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
    // the fingerprint's values are pinned, through SQL and TextAnalysis:
    // (h * 1000003 + byte) mod 2^61-1 over the UTF-8 bytes
    assert(n == 97000680001266L)
    val multi = "naïve über ∑ text"
    assert(graft.pipeline.TextAnalysis.fingerprint(multi) == 1368040915499145783L)
    assert(s2.sql(s"SELECT graft_fingerprint('$multi')").as[Long].head() == 1368040915499145783L)
  }
}
