package graft.tools

/** Single-threaded kernel microbenchmarks (dev tool, not part of the driver
  * contract). `sbt "runMain graft.tools.MicroBench"`. */
object MicroBench {
  def main(args: Array[String]): Unit = {
    time("imagegen", 200000)(id => {
      val bytes = graft.pipeline.ImageGen.encode(id)
      val (w, h, _, rgb) = graft.pipeline.ImageGen.decode(bytes)
      graft.pipeline.ImageGen.phash(w, h, rgb) ^ graft.pipeline.ImageGen.caption(id).length
    })
    time("hex_cell", 2000000)(id =>
      graft.geo.index.HexCell.cellId((id % 36000) / 100.0 - 180.0, (id % 16800) / 100.0 - 84.0, 5))
    time("s2_cell", 2000000)(id =>
      graft.geo.index.S2Cell.cellId((id % 36000) / 100.0 - 180.0, (id % 16800) / 100.0 - 84.0, 12))
    time("tile_key", 2000000)(id =>
      graft.geo.algo.GeoAlgo.tileKeyPacked((id % 36000) / 100.0 - 180.0, (id % 16800) / 100.0 - 84.0, 12))
    time("minhash128", 20000)(id =>
      graft.ops.TextKernels.minhash("the quick brown fox " * 20 + id, 128, 5).length.toLong)
    val doc = "the quick brown fox jumps over the lazy dog " * 10 // ~450 chars
    time("simhash64", 50000)(id => graft.ops.TextKernels.simhash(doc + id, 5))
    time("winnow", 50000)(id => graft.ops.TextKernels.winnow(doc + id, 8, 4).length.toLong)
    time("bpe_count", 50000)(id => graft.ops.TextKernels.tokenCountBpe(doc + id).toLong)
    time("langid", 50000)(id => graft.ops.TextKernels.langId(doc + id).length.toLong)
    val pointJson = """{"type":"Point","coordinates":[125.6,10.1]}"""
    time("parse_point", 500000)(id =>
      graft.geo.json.GeoJsonCodec.parse(pointJson).toOption.get.bbox.size.toLong + id)
    val polyJson = {
      val ring = (0 until 200).map(i => s"[${100 + i % 7}.$i,${i % 80}.5]").mkString("[", ",", "]")
      s"""{"type":"Polygon","coordinates":[$ring]}"""
    }
    time("parse_poly200", 100000)(id =>
      graft.geo.json.GeoJsonCodec.parse(polyJson).toOption.get.bbox.size.toLong + id)
    // the join hot path: single-pass Jackson -> packed row (GeoParse)
    time("fastparse_poly200", 100000)(id =>
      graft.geo.sql.GeoParse.parseGeometryFast(polyJson)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow].numFields.toLong + id)
    time("roundtrip_poly200", 50000) { id =>
      val g = graft.geo.json.GeoJsonCodec.parse(polyJson).toOption.get
      graft.geo.json.GeoJsonCodec.render(g).length.toLong + id
    }
    // round-4 kernels: simplify / hull / quantized cosine
    locally {
      val rng = new scala.util.Random(7)
      val ring = (0 until 200).map { i =>
        val a = 2 * math.Pi * i / 200
        (100 + 3 * math.cos(a) + rng.nextDouble() * 0.3, 3 * math.sin(a) + rng.nextDouble() * 0.3)
      }
      val coords = (ring :+ ring.head).flatMap { case (x, y) => Seq(x, y) }.toArray
      val posOff = Array.tabulate(202)(_ * 2)
      val ringOff = Array(0, 201)
      val partOff = Array(0, 1)
      time("simplify_poly200", 100000)(id =>
        graft.geo.algo.GeoAlgo.simplify(5, coords, posOff, ringOff, partOff, 0.2)._2.length.toLong + id)
      val pts = Array.tabulate(200)(i =>
        (rng.nextDouble() * 100, rng.nextDouble() * 80))
      time("convex_hull200", 100000)(id =>
        graft.geo.algo.GeoAlgo.convexHull(pts).length.toLong + id)
      val qa = new Array[Byte](4 + 768); val qb = new Array[Byte](4 + 768)
      var i = 0
      while (i < 768) { qa(4 + i) = ((i * 37) % 255 - 127).toByte; qb(4 + i) = ((i * 53) % 255 - 127).toByte; i += 1 }
      time("cosine_q768", 2000000)(id =>
        java.lang.Double.doubleToLongBits(graft.ops.TextKernels.vecCosineQ(qa, qb)) + id)
      // round-5 kernels: box clip / PQ encode / ADC scoring
      time("clip_poly200", 100000)(id =>
        graft.geo.algo.GeoAlgo.clipBox(5, coords, posOff, ringOff, partOff,
          99.0, -2.0, 102.0, 2.5) match {
          case null => id
          case c    => c.coords.length.toLong + id
        })
    }
    locally {
      val text100 = (0 until 100).map(i => s"word$i").mkString(" ")
      time("word_ngrams100x2", 100000)(id =>
        graft.ops.TextKernels.wordNgramArray(text100, 2).numElements().toLong + id)
    }
    locally {
      val payload = graft.pipeline.ImageGen.encode(7L) // 15x14 image
      time("image_crop8x8", 200000)(id =>
        graft.ops.MmRuntime.imageCrop(payload, 2, 2, 8, 8).length.toLong + id)
      time("image_ahash", 200000)(id =>
        graft.ops.MmRuntime.imageAhash(payload) + id)
      time("image_histogram8", 200000)(id =>
        graft.ops.MmRuntime.imageHistogram(payload, 8).getLong(0) + id)
    }
    locally {
      val audio = graft.pipeline.AudioGen.encode(7L, 8000, 800)
      time("audio_peaks800", 500000)(id =>
        graft.ops.MmRuntime.audioPeaks(audio).toLong + id)
      time("audio_zero_crossings800", 500000)(id =>
        graft.ops.MmRuntime.audioZeroCrossings(audio).toLong + id)
      val video = graft.pipeline.VideoGen.encode(7L)
      time("video_cuts", 200000)(id =>
        graft.ops.MmRuntime.videoCuts(video, 85000).toLong + id)
    }
    locally {
      val dim = 64; val m = 8; val dsub = 8
      val books = new graft.ops.PqBooks(
        Array.tabulate(m * 256 * dsub)(i => ((i * 131) % 255 - 127) / 64.0f))
      val vec = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.tabulate(dim)(i => ((i * 37) % 17 - 8).toFloat))
      time("pq_encode64", 20000)(id =>
        java.lang.Double.doubleToLongBits(
          graft.ops.PqKernels.encode(vec, books, m, dsub, null).getDouble(1)) + id)
      val lut  = graft.ops.PqKernels.lut(vec, books, m, dsub)
      val code = graft.ops.PqKernels.encode(vec, books, m, dsub, null).getBinary(0)
      time("pq_adc64", 5000000)(id =>
        java.lang.Double.doubleToLongBits(graft.ops.PqKernels.adc(lut, code)) + id)
    }
    locally {
      // overlay kernel: two interlocked 16-vertex concave stars (the q90
      // family's continuous cousin) through the full slab pipeline
      def star(cx: Double, cy: Double, k: Int, seed: Int): (Array[Double], Array[Int], Array[Int], Array[Int]) = {
        val pts = (0 until k).map { i =>
          val a = 2 * math.Pi * i / k
          val r = 3.0 + ((i * seed) % 7)
          (cx + r * math.cos(a), cy + r * math.sin(a))
        } :+ { val a = 0.0; val r = 3.0 + (0 % 7); (cx + r, cy) } // close
        val coords = pts.flatMap(p => Seq(p._1, p._2)).toArray
        val pos    = Array.tabulate(pts.length + 1)(_ * 2)
        (coords, pos, Array(0, pts.length), Array(0, 1))
      }
      val (ca, pa, ra, fa) = star(0, 0, 16, 3)
      val (cb, pb, rb, fb) = star(2, 1, 16, 5)
      time("overlay_intersect16x16", 20000) { id =>
        val c = graft.geo.algo.Overlay.overlayGeoms(graft.geo.algo.Overlay.OpIntersection,
          5, ca, pa, ra, fa, 5, cb, pb, rb, fb)
        (if (c == null) 0L else c.coords.length.toLong) + id
      }
    }
    locally {
      // KLL insert throughput (k=200, values cycling a 64k domain)
      var buf = graft.ops.Sketches.KllBuf(null)
      time("kll_insert_k200", 2000000) { id =>
        if (id % 100000 == 0) buf = new graft.ops.Sketches.KllAggregator(200).zero
        buf = new graft.ops.Sketches.KllAggregator(200).reduce(buf, (id * 2654435761L) % 65536)
        buf.v.length.toLong
      }
    }
    // the reference's own bench input (bench/input.json == simple.geojson,
    // 18,699 B, 987-position polygon): full decode -> typed doc -> encode
    val simple = {
      val in = getClass.getResourceAsStream("/geo-fixtures/simple.geojson")
      if (in == null) None
      else Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close())
    }
    simple.foreach { doc =>
      time("roundtrip_simple_geojson", 20000) { id =>
        val g = graft.geo.json.GeoJsonCodec.parse(doc).toOption.get
        graft.geo.json.GeoJsonCodec.render(g).length.toLong + id
      }
    }
  }
  def time(name: String, n: Long)(f: Long => Long): Unit = {
    var i = 0L; var acc = 0L
    while (i < n / 4) { acc ^= f(i); i += 1 } // warmup
    val t0 = System.nanoTime()
    i = 0
    while (i < n) { acc ^= f(i); i += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"$name: ${n / sec}%.0f rows/sec 1-thread (${sec * 1e9 / n}%.0f ns/row) acc=$acc")
  }
}
