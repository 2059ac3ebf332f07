package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.geo.sql.GeoFunctions._
import graft.streaming.GeoStreams

/** The geojsone streaming-operator golden tests recast for Spark
  * (reference: /root/reference/test/geojsonm/expect/test.ml:36-62 over
  * input/simple.geojson): map_props capitalising `nom` (Foix→FOIX),
  * map_geometry stripping Polygon coordinates, fold_props collecting `nom`,
  * iter_geometry/iter_props visits — plus the constant-memory
  * FeatureCollection splitter and a Structured Streaming run.
  */
class ReaderStreamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  def fixturePath: String = {
    // materialize the resource to a temp file for spark file APIs
    val in  = getClass.getResourceAsStream("/fixtures/simple.geojson")
    val dir = Files.createTempDirectory("geojson_src")
    val p   = dir.resolve("simple.geojson")
    Files.copy(in, p); in.close()
    p.toString
  }

  // the feature texts the geojson source reads under `path`, in file order
  private def featureTexts(path: String, options: (String, String)*): Array[String] =
    spark.read.format("geojson").options(options.toMap).load(path)
      .select("feature_json").as[String].collect()

  private def featureJson(path: String) =
    spark.read.format("geojson").load(path).select($"feature_json".as("json"))

  test("mapProps on a corpus with malformed docs: PERMISSIVE null rows, no replacement-side error") {
    // the round-4 codegen promotion evaluates the replacement for every row
    // (Spark Column semantics); doc-derived replacements stay null-safe
    // because from_geojson is PERMISSIVE — malformed rows null out instead
    // of erroring, well-formed rows rewrite
    import org.apache.spark.sql.functions._
    val docs = Seq(
      """{"type":"Feature","properties":{"name":"ok"}}""",
      """{"type":"Feature","properties":{"name":""",   // malformed
      """not json at all""").toDF("json")
    val out = graft.streaming.GeoStreams.mapProps(docs, "json",
      p => concat(lit("""{"name":""""), upper(get_json_object(p, "$.name")), lit("\"}")))
      .select("json").collect().map(r => Option(r.getString(0)))
    assert(out(0).exists(_.contains(""""name":"OK"""")), out(0).toString)
    assert(out(1).isEmpty && out(2).isEmpty, "malformed docs must be PERMISSIVE nulls")
  }

  test("feature splitter: one row per feature, constant memory, texts parse") {
    val feats = featureTexts(fixturePath)
    assert(feats.length == 1)
    val top = featureJson(fixturePath)
      .select(from_geojson(col("json")).getField("feature").as("feature"))
      .select(col("feature.geometry.gtype"), col("feature.properties"))
      .collect()(0)
    assert(top.getByte(0) == 5) // Polygon
    assert(top.getString(1) == """{"code":"09001","nom":"Foix"}""")
  }

  test("container auto-detect: FeatureCollection doc, ND-JSON, RFC 8142 RS sequence") {
    val f1 = """{"type":"Feature","properties":{"nom":"A"},"geometry":{"type":"Point","coordinates":[1,2]}}"""
    val f2 = """{"type":"Feature","properties":{"nom":"B"}}"""
    val f3 = """{"type":"Feature","properties":{"nom":"C"},"geometry":{"type":"LineString","coordinates":[[0,0],[1,1]]}}"""
    val dir = java.nio.file.Files.createTempDirectory("graft_formats")
    // (a) classic FeatureCollection document
    java.nio.file.Files.write(dir.resolve("fc.json"),
      s"""{"type":"FeatureCollection","features":[$f1,$f2,$f3]}""".getBytes("UTF-8"))
    // (b) ND-JSON (one feature per line — what GeoJsonWriter.writeLines emits)
    java.nio.file.Files.write(dir.resolve("nd.json"), s"$f1\n$f2\n$f3\n".getBytes("UTF-8"))
    // (c) RFC 8142 GeoJSON text sequence (RS 0x1E before each text)
    val rs = 0x1E.toChar
    java.nio.file.Files.write(dir.resolve("seq.json"),
      s"$rs$f1\n$rs$f2\n$rs$f3\n".getBytes("UTF-8"))
    Seq("fc.json", "nd.json", "seq.json").foreach { f =>
      val texts = featureTexts(dir.resolve(f).toString)
      assert(texts.length == 3, s"$f: ${texts.length}")
      texts.foreach(t => assert(graft.geo.json.GeoJsonCodec.parse(t).isRight, s"$f: $t"))
      val noms = texts.flatMap(t =>
        Option(get_json_object_str(t))).sorted.toSeq
      assert(noms == Seq("A", "B", "C"), s"$f: $noms")
    }
    // an FC whose first member is "features" (type later) still splits
    java.nio.file.Files.write(dir.resolve("fc2.json"),
      s"""{"features":[$f1,$f2],"type":"FeatureCollection"}""".getBytes("UTF-8"))
    assert(featureTexts(dir.resolve("fc2.json").toString).length == 2)
    // leading whitespace / BOM / UTF-16 before the FC must still SPLIT (the
    // container routing is token-level, not raw-first-byte): regression for
    // the first-byte sniff that emitted the whole doc as one row
    val fcDoc = s"""{"type":"FeatureCollection","features":[$f1,$f2,$f3]}"""
    java.nio.file.Files.write(dir.resolve("fc_ws.json"), ("\n  " + fcDoc).getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("fc_bom.json"),
      Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ fcDoc.getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("fc_u16.json"),
      Array[Byte](0xFE.toByte, 0xFF.toByte) ++ fcDoc.getBytes("UTF-16BE"))
    Seq("fc_ws.json", "fc_bom.json", "fc_u16.json").foreach { f =>
      val n = featureTexts(dir.resolve(f).toString).length
      assert(n == 3, s"$f split into $n rows, expected 3 features")
    }
    // RFC 8142 allows each RS text to be ANY GeoJSON: a sequence of
    // FeatureCollections must flatten to all their features
    java.nio.file.Files.write(dir.resolve("seq_fc.json"),
      (s"$rs" + s"""{"type":"FeatureCollection","features":[$f1],"bbox":[0,0,2,2]}""" + "\n" +
       s"$rs" + s"""{"type":"FeatureCollection","features":[$f2,$f3]}""" + "\n" +
       s"$rs$f1\n").getBytes("UTF-8"))
    assert(featureTexts(dir.resolve("seq_fc.json").toString).length == 4,
      "RS sequence of FCs + a feature must flatten to 4")
    // ND-JSON features whose members are NOT type-first (external writers)
    val f4 = """{"geometry":{"type":"Point","coordinates":[5,6]},"type":"Feature","properties":{"nom":"D"}}"""
    java.nio.file.Files.write(dir.resolve("nd2.json"), s"$f4\n$f1\n".getBytes("UTF-8"))
    val nd2 = featureTexts(dir.resolve("nd2.json").toString)
    assert(nd2.length == 2 && nd2.exists(_.contains(""""nom":"D"""")), nd2.mkString("|"))
    // features-member-first FC followed by another root (concatenated)
    java.nio.file.Files.write(dir.resolve("fc3.json"),
      (s"""{"features":[$f1],"type":"FeatureCollection"}""" + "\n" + f2).getBytes("UTF-8"))
    assert(featureTexts(dir.resolve("fc3.json").toString).length == 2)
    // a non-object FEATURES ELEMENT stops emission but keeps the stream in
    // sync: the trailing FC members and the NEXT root value still arrive
    java.nio.file.Files.write(dir.resolve("fc_mixed.json"),
      (s"""{"type":"FeatureCollection","features":[$f1,42,$f2],"bbox":[0,0,9,9]}""" + "\n" + f3)
        .getBytes("UTF-8"))
    val mixed = featureTexts(dir.resolve("fc_mixed.json").toString)
    assert(mixed.length == 2, s"expected f1 + the next root, got ${mixed.length}: ${mixed.mkString("|")}")
    assert(mixed.exists(_.contains(""""nom":"A"""")) && mixed.exists(_.contains(""""nom":"C"""")))
    // a non-object root still fails loudly (reference: document must be object)
    java.nio.file.Files.write(dir.resolve("arr.json"), s"[$f1,$f2]".getBytes("UTF-8"))
    val ex = intercept[org.apache.spark.SparkException] {
      featureTexts(dir.resolve("arr.json").toString)
    }
    assert(ex.getMessage.contains("GeoJSON document must be an object") ||
      Option(ex.getCause).exists(_.getMessage.contains("GeoJSON document must be an object")))
  }

  private def get_json_object_str(t: String): String =
    graft.geo.json.JValue.parseUnsafe(t) match {
      case o: graft.geo.json.JObj =>
        o.get("properties").collect { case p: graft.geo.json.JObj =>
          p.get("nom").collect { case graft.geo.json.JStr(s) => s }
        }.flatten.orNull
      case _ => null
    }

  test("UTF-16BE/LE input (BOM and BOM-less) reads through the file path") {
    // the reference guesses the encoding from the first bytes
    // (uutfe.ml:415-430: BOM, or the RFC 4627 null-byte pattern); the
    // geojson source sniffs the same rules itself and reads UTF-8/16BE/16LE
    val doc =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"nom":"Foix"},
        | "geometry":{"type":"Point","coordinates":[1.5,42.75]}}]}""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft_utf16")
    val be  = dir.resolve("be.json"); val le = dir.resolve("le.json")
    val bom = Array[Byte](0xFE.toByte, 0xFF.toByte)
    java.nio.file.Files.write(be, bom ++ doc.getBytes("UTF-16BE")) // BOM'd
    java.nio.file.Files.write(le, doc.getBytes("UTF-16LE"))        // null-pattern only
    Seq(be, le).foreach { p =>
      val feats = featureTexts(p.toString)
      assert(feats.length == 1, p.toString)
      assert(graft.geo.json.GeoJsonCodec.parse(feats(0)).isRight, feats(0))
      assert(feats(0).contains(""""nom":"Foix""""), feats(0))
    }
  }

  test("map_props: capitalise nom (expect golden: Foix→FOIX)") {
    val df = featureJson(fixturePath)
    val out = GeoStreams.mapProps(df, "json", p =>
      concat(lit("""{"code":""""), get_json_object(p, "$.code"),
        lit("""","nom":""""), upper(get_json_object(p, "$.nom")), lit(""""}""")))
      .select(get_json_object(
        from_geojson($"json").getField("feature").getField("properties"), "$.nom"))
      .as[String].collect()
    assert(out.toSeq == Seq("FOIX"))
  }

  test("map_geometry: strip Polygon coordinates to [] (expect golden)") {
    val df = featureJson(fixturePath)
    val emptied = GeoStreams.mapGeometry(df, "json", g =>
      g.withField("coords", array().cast("array<double>"))
        .withField("pos_offsets", array(lit(0)).cast("array<int>"))
        .withField("ring_offsets", array(lit(0)).cast("array<int>"))
        .withField("part_offsets", array(lit(0), lit(0)).cast("array<int>")))
    val json = emptied.as[String].collect()(0)
    assert(json.contains(""""geometry":{"type":"Polygon","coordinates":[]}"""), json.take(200))
    // and the document still parses with properties intact
    assert(json.contains(""""nom":"Foix""""))
  }

  test("fold_props: collect nom values (expect golden)") {
    val df  = featureJson(fixturePath)
    val out = GeoStreams.foldProps(df, "json", p =>
      Seq(collect_list(get_json_object(p, "$.nom")).as("noms")))
      .as[Seq[String]].collect()(0)
    assert(out == Seq("Foix"))
  }

  test("iter_geometry / iter_props visit in document order") {
    val df = featureJson(fixturePath)
    val seenG = scala.collection.mutable.ArrayBuffer[String]()
    GeoStreams.iterGeometry(df, "json")(seenG += _)
    assert(seenG.length == 1 && seenG(0).startsWith("""{"type":"Polygon""""))
    val seenP = scala.collection.mutable.ArrayBuffer[String]()
    GeoStreams.iterProps(df, "json")(seenP += _)
    assert(seenP == Seq("""{"code":"09001","nom":"Foix"}"""))
  }

  test("DataSourceV2 geojson format reads features via spark.read") {
    val path = fixturePath
    val df = spark.read.format("geojson").load(path)
    assert(df.schema.fieldNames.toSeq == Seq("file", "seq", "feature_json"))
    val rows = df.select(
      from_geojson(col("feature_json")).getField("feature").getField("properties").as("p"))
      .collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == """{"code":"09001","nom":"Foix"}""")
    // multi-file parallelism: one partition per file
    val dir = Files.createTempDirectory("dsv2_multi")
    (1 to 3).foreach { i =>
      Files.writeString(dir.resolve(s"f$i.geojson"),
        s"""{"type":"FeatureCollection","features":[
           |{"type":"Feature","properties":{"i":$i}}]}""".stripMargin)
    }
    val multi = spark.read.format("geojson").load(dir.toString + "/*.geojson")
    assert(multi.rdd.getNumPartitions == 3)
    assert(multi.count() == 3)
  }

  test("geojson source lists and opens files through the session's Hadoop configuration") {
    // the `gjsession` scheme is known only to this session's SQL conf,
    // which Spark copies into the Hadoop configuration it hands its sources
    val dir = Files.createTempDirectory("gj_session_fs")
    (1 to 2).foreach { i =>
      Files.writeString(dir.resolve(s"f$i.geojson"),
        s"""{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"i":$i}}]}""")
    }
    spark.conf.set("fs.gjsession.impl", classOf[SessionOnlyFileSystem].getName)
    try {
      val files = spark.read.format("geojson").load(s"gjsession://${dir.toUri.getPath}*.geojson")
        .select("file").as[String].collect().sorted
      assert(files.toSeq == Seq(1, 2).map(i => s"gjsession:${dir.toUri.getPath}f$i.geojson"))
    } finally spark.conf.unset("fs.gjsession.impl")
  }

  test("malformed=replace mode: bad bytes become U+FFFD and the scan continues") {
    // the reference's uutfe recovery (Malformed -> add U+FFFD, uutfe.ml:35,68)
    // as a reader mode; default stays loud (Jackson strict)
    val good =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"name":"abXcd"}},
        |{"type":"Feature","properties":{"name":"ok"}}]}""".stripMargin
    val bytes = good.getBytes("UTF-8")
    bytes(good.indexOf('X')) = 0xFF.toByte // lone 0xFF: ill-formed UTF-8
    val dir = Files.createTempDirectory("geojson_malformed")
    Files.write(dir.resolve("bad.geojson"), bytes)
    intercept[Exception] {
      spark.read.format("geojson").load(dir.toString + "/bad.geojson").collect()
    }
    val rows = spark.read.format("geojson").option("malformed", "replace")
      .load(dir.toString + "/bad.geojson")
      .select("feature_json").collect().map(_.getString(0))
    assert(rows.length == 2, rows.toSeq.toString)
    assert(rows(0).contains("ab\uFFFDcd"), rows(0))
    assert(rows(1).contains("\"ok\""))
    // replace mode keeps the UTF-16 routing (BOM'd LE file, clean content)
    val utf16 = dir.resolve("le.geojson")
    Files.write(utf16,
      ("\uFEFF" + """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"n":"u16"}}]}""")
        .getBytes("UTF-16LE"))
    val r16 = spark.read.format("geojson").option("malformed", "replace")
      .load(utf16.toString).select("feature_json").collect()
    assert(r16.length == 1 && r16(0).getString(0).contains("u16"))
  }

  test("mode=resync: malformed tokens discard to ,/] and the stream continues") {
    // jsone's discard_to recovery (jsone.ml:487-493): a corrupt element in
    // the features array must not cost the surrounding features
    val f = (i: Int) => s"""{"type":"Feature","properties":{"i":$i}}"""
    val dir = Files.createTempDirectory("geojson_resync")
    // (a) garbage tokens between valid elements
    Files.writeString(dir.resolve("a.geojson"),
      s"""{"type":"FeatureCollection","features":[${f(1)}, @@garbage@@ , ${f(2)}, 42, ${f(3)}],"bbox":[0,0,9,9]}""")
    // (b) corrupt bytes AND tokens (resync implies U+FFFD byte recovery)
    val bBytes = s"""{"type":"FeatureCollection","features":[${f(4)}, !!, ${f(5)}]}""".getBytes("UTF-8")
    bBytes(bBytes.length - 5) = 0xFF.toByte // inside f(5)'s tail digits — still balanced
    Files.write(dir.resolve("b.geojson"), bBytes)
    // (c) concatenated roots where the first root is a non-object
    Files.writeString(dir.resolve("c.geojson"), s"42 ${f(6)}\n${f(7)}")
    def ids(file: String): Seq[Int] =
      spark.read.format("geojson").option("mode", "resync")
        .load(dir.resolve(file).toString)
        .select("feature_json").collect().toSeq
        .map { r =>
          graft.geo.json.JValue.parse(r.getString(0)).toOption.flatMap {
            case o: graft.geo.json.JObj => o.get("properties").flatMap {
              case p: graft.geo.json.JObj => p.get("i").collect {
                case graft.geo.json.JNum(d) => d.toInt
              }
              case _ => None
            }
            case _ => None
          }.getOrElse(-1)
        }
    assert(ids("a.geojson") == Seq(1, 2, 3), ids("a.geojson").toString)
    // b: f(4) intact; f(5) carries a U+FFFD but still splits as one element
    val b = spark.read.format("geojson").option("mode", "resync")
      .load(dir.resolve("b.geojson").toString).select("feature_json")
      .collect().map(_.getString(0))
    assert(b.length == 2, b.toSeq.toString)
    assert(b(0) == f(4))
    assert(b(1).contains("\uFFFD"))
    assert(ids("c.geojson") == Seq(6, 7), ids("c.geojson").toString)
    // strict mode still fails loudly on (a)
    intercept[Exception] {
      spark.read.format("geojson").load(dir.resolve("a.geojson").toString).collect()
    }
    // unterminated-string garbage: discard_to is a LITERAL scan (reference-
    // faithful), so the next ',' even "inside" the broken string resyncs
    Files.writeString(dir.resolve("d.geojson"),
      s"""{"type":"FeatureCollection","features":[${f(10)}, "broken , ${f(11)}]}""")
    val d = spark.read.format("geojson").option("mode", "resync")
      .load(dir.resolve("d.geojson").toString).select("feature_json")
      .collect().map(_.getString(0))
    assert(d.contains(f(10)) && d.contains(f(11)), d.toSeq.toString)
    // truncation mid-feature: everything before the cut still arrives
    Files.writeString(dir.resolve("e.geojson"),
      s"""{"type":"FeatureCollection","features":[${f(12)},{"type":"Fea""")
    val e = spark.read.format("geojson").option("mode", "resync")
      .load(dir.resolve("e.geojson").toString).select("feature_json")
      .collect().map(_.getString(0))
    assert(e.toSeq == Seq(f(12)), e.toSeq.toString)
    // resync on a CLEAN document agrees with the strict splitter
    val clean = s"""{"type":"FeatureCollection","features":[${f(8)},${f(9)}]}"""
    Files.writeString(dir.resolve("clean.geojson"), clean)
    val strictRows = spark.read.format("geojson")
      .load(dir.resolve("clean.geojson").toString).select("feature_json")
      .collect().map(_.getString(0)).toSeq
    val resyncRows = spark.read.format("geojson").option("mode", "resync")
      .load(dir.resolve("clean.geojson").toString).select("feature_json")
      .collect().map(_.getString(0)).toSeq
    assert(strictRows == resyncRows)
  }

  test("ordered GEOMETRY fold: coordinates concatenate in document order") {
    val fc = "{\"type\":\"FeatureCollection\",\"features\":[" +
      (0 until 5).map(i =>
        s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$i.0,0.5]}}""")
        .mkString(",") + "]}"
    val dir = Files.createTempDirectory("geojson_gfold")
    Files.writeString(dir.resolve("fc.geojson"), fc)
    val df = spark.read.format("geojson").load(dir.toString + "/fc.geojson")
      .repartition(3)
    val out = GeoStreams.foldGeometryOrdered(df, "feature_json",
        Seq(col("file"), col("seq")), lit(""),
        (acc, g) => concat(acc, element_at(g.getField("coords"), 1).cast("int"), lit(",")))
      .collect()(0).getString(0)
    assert(out == "0,1,2,3,4,", out)
  }

  test("resync splitter equals the strict splitter on 40 random clean documents") {
    // generated Feature docs (random nesting, escapes, numbers) wrapped in
    // FeatureCollections: both splitters must emit identical feature lists
    val feats = (0L until 280L).filter(_ % 7 == 5).map(id =>
      graft.geo.json.GeoJsonCodec.render(graft.geo.gen.GeoGen.docFor(id, 99L)))
    val dir = Files.createTempDirectory("geojson_resync_fuzz")
    (0 until 10).foreach { d =>
      val group = feats.drop(d * 4).take(4)
      Files.writeString(dir.resolve(s"fc$d.geojson"),
        s"""{"type":"FeatureCollection","bbox":[0,0,1,1],"features":[${group.mkString(",")}]}""")
    }
    // compare BYTES: on UTF-8 input both splitters copy each feature's
    // source text as it is
    (0 until 10).foreach { d =>
      val p = dir.resolve(s"fc$d.geojson").toString
      val strict = featureTexts(p).toSeq
      val resync = featureTexts(p, "mode" -> "resync").toSeq
      assert(strict == resync, s"fc$d: strict ${strict.length} vs resync ${resync.length}")
      assert(strict.nonEmpty)
    }
  }

  test("ordered fold follows reader document order for non-commutative f") {
    // 7 features whose property is their position; the fold REVERSE-CONCATs
    // (clearly non-commutative), so the result pins the exact (file, seq)
    // document order the reference's sequential fold would see
    val fc = "{\"type\":\"FeatureCollection\",\"features\":[" +
      (0 until 7).map(i =>
        s"""{"type":"Feature","properties":{"i":"p$i"}}""").mkString(",") + "]}"
    val dir = Files.createTempDirectory("geojson_fold")
    Files.writeString(dir.resolve("fc.geojson"), fc)
    val df = spark.read.format("geojson").load(dir.toString + "/fc.geojson")
      .repartition(4) // order must survive arbitrary partitioning
    assert(df.select(col("seq")).orderBy("seq").collect().map(_.getLong(0)).toSeq
      == (0L until 7L))
    val out = GeoStreams.foldPropsOrdered(df, "feature_json",
        Seq(col("file"), col("seq")), lit(""),
        (acc, p) => concat(get_json_object(p, "$.i"), lit(" "), acc))
      .collect()(0).getString(0)
    assert(out == "p6 p5 p4 p3 p2 p1 p0 ", out)
  }

  test("multi-feature document splits correctly") {
    val fc =
      """{"type":"FeatureCollection","meta":{"x":1},"features":[
        |{"type":"Feature","properties":{"i":1},"geometry":{"type":"Point","coordinates":[1.0,2.0]}},
        |{"type":"Feature","properties":{"i":2},"geometry":{"type":"Point","coordinates":[3.0,4.0]}},
        |{"type":"Feature","properties":{"i":3}}]}""".stripMargin
    val dir = Files.createTempDirectory("geojson_multi")
    Files.writeString(dir.resolve("fc.geojson"), fc)
    val rows = featureJson(dir.toString + "/fc.geojson")
      .select(from_geojson(col("json")).getField("feature").as("feature"))
      .select(get_json_object(col("feature.properties"), "$.i").as("i"),
        col("feature.geometry").isNull.as("nogeom"))
      .orderBy("i").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1", "2", "3"))
    assert(rows.map(_.getBoolean(1)).toSeq == Seq(false, false, true))
  }

  test("structured streaming: windowed fold over the events table") {
    // the reference has no watermark/window semantics to mirror (SURVEY.md
    // §2.6); this proves the engine's operators run under readStream
    val schema = spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet("/root/testdata/sf0.001/events.parquet".stripSuffix("/events.parquet"))
    val agg = stream
      .withColumn("ts", $"ts".cast("timestamp")) // source is TIMESTAMP_NTZ
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("ev_fold").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("select sum(n) from ev_fold").as[Long].collect()(0)
    val expect = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert(got == expect)
  }

  test("stream-static PIP join: streaming points against static polygons") {
    // the pipJoin plan is a narrow map + broadcast equi-join + refine, so it
    // runs unchanged on a readStream input (stream-static join)
    val polys = Seq((1L, """{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]]]}"""),
                    (2L, """{"type":"Polygon","coordinates":[[[20,20],[30,20],[30,30],[20,30],[20,20]]]}"""))
      .toDF("poly_id", "json")
      .select($"poly_id", from_geojson_geom($"json").as("geom"))
    val pts = (0 until 200).map(i => (i.toLong, (i % 40).toDouble, (i % 35).toDouble))
      .toDF("pid", "lng", "lat")
    val dir = java.nio.file.Files.createTempDirectory("pip_stream")
    pts.coalesce(1).write.mode("overwrite").parquet(dir.toString + "/b1")
    val stream = spark.readStream.schema(pts.schema).parquet(dir.toString + "/b1")
    val q = graft.geo.join.SpatialJoins.pipJoin(stream, "lng", "lat", polys, "geom", res = 3)
      .select("pid", "poly_id")
      .writeStream.format("memory").queryName("pip_stream").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("select * from pip_stream").as[(Long, Long)].collect().toSet
    val batch = graft.geo.join.SpatialJoins.pipJoin(pts, "lng", "lat", polys, "geom", res = 3)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming map_geometry on a feature-text stream") {
    // stream of per-feature JSON rows through the same narrow map
    val dir = Files.createTempDirectory("geojson_stream")
    val texts = (1 to 20).map(i =>
      s"""{"type":"Feature","properties":{"i":$i},"geometry":{"type":"Point","coordinates":[$i.0,2.0]}}""")
    Files.write(dir.resolve("part1.txt"), String.join("\n", texts: _*).getBytes)
    val stream = spark.readStream.schema("json STRING").format("text")
      .option("path", dir.toString).load().withColumnRenamed("value", "json")
    val mapped = GeoStreams.mapGeometry(stream.select($"json"), "json",
      g => g.withField("coords",
        transform(g.getField("coords"), c => c + 100.0)))
    val q = mapped.writeStream.format("memory").queryName("geo_map").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val lngs = spark.sql("select json from geo_map")
      .select(element_at(from_geojson($"json").getField("feature").getField("geometry")
        .getField("coords"), 1).as("lng")).as[Double].collect().sorted
    assert(lngs.toSeq == (1 to 20).map(_ + 100.0))
  }
}

/** The local filesystem under a scheme of its own, `gjsession`. */
class SessionOnlyFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "gjsession"
  override def getUri: java.net.URI = java.net.URI.create("gjsession:///")
}
