package graft

import org.apache.spark.sql.functions._

/** Property checks for the training-pipeline operators beyond the
  * driver's oracle hash (which pins exact values at sf0.01): the
  * structural invariants that must hold at ANY scale.
  */
class PipelineSpec extends SparkSpecBase {

  private def run(name: String) =
    SparkEntry.defs.find(_.name == name).get.run(spark, sf)

  test("sequence packing: bins are contiguous doc ranges and cover every document") {
    val bins = run("q_pipeline_pack_sequences").collect()
    assert(bins.nonEmpty)
    val sorted = bins.sortBy(_.getLong(0))
    // bin ids dense from 0, doc ranges ascending and non-overlapping
    sorted.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i, s"bin ids not dense at $i")
    }
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(4) < b.getLong(3),
          s"bin ${a.getLong(0)} last_doc overlaps bin ${b.getLong(0)} first_doc")
      case _ =>
    }
    val totalDocs = sorted.map(_.getLong(1)).sum
    val nDocs = graft.engine.Tables(spark, sf).documents.count()
    assert(totalDocs == nDocs, s"packing dropped docs: $totalDocs != $nDocs")
    // every bin except the last starts a new capacity window: its first
    // doc's predecessor cumsum crossed the boundary, so each bin's
    // token count is at least 1 and the grand total matches the corpus
    val totalTokens = sorted.map(_.getLong(2)).sum
    val expectTokens = graft.engine.Tables(spark, sf).documents
      .agg(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
    assert(totalTokens == expectTokens, "token totals drifted through the prefix sum")
  }

  test("stratified sample: every kept row satisfies its language quota, rates track") {
    val rows = run("q_pipeline_stratified_sample").collect()
    assert(rows.nonEmpty)
    val quota = Map("en" -> 60L, "de" -> 30L).withDefaultValue(15L)
    rows.foreach { r =>
      assert(r.getLong(2) < quota(r.getString(1)),
        s"doc ${r.getLong(0)} bucket ${r.getLong(2)} exceeds ${r.getString(1)} quota")
    }
    // deterministic: same fixture, same sample — rerun is identical
    val again = run("q_pipeline_stratified_sample").collect()
    assert(rows.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("chunking: windows bounded by 64 tokens, strides cover every word") {
    val chunks = run("q_pipeline_chunk_documents").collect()
    assert(chunks.nonEmpty)
    chunks.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= 64,
        s"chunk ${r.getLong(0)}/${r.getLong(1)} has ${r.getLong(2)} words")
    }
    // per doc: chunk ids dense from 0, and stride coverage means the
    // word count implied by the last chunk reaches the doc's word count
    val byDoc = chunks.groupBy(_.getLong(0))
    val wordCounts = graft.engine.Tables(spark, sf).documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.foreach { case (doc, rs) =>
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.zipWithIndex.forall { case (id, i) => id == i },
        s"doc $doc chunk ids not dense: ${ids.take(5)}")
      val last = rs.maxBy(_.getLong(1))
      val covered = last.getLong(1) * 48 + last.getLong(2)
      assert(covered == wordCounts(doc),
        s"doc $doc: chunks cover $covered of ${wordCounts(doc)} words")
    }
  }

  test("starComponents: chains, cycles, stars, multi-component, noisy edge lists") {
    import spark.implicits._
    // every topology runs through BOTH paths: the driver union-find
    // (default gate) and the distributed large/small-star rounds
    // (forced by driverLimit = 0) must agree exactly
    def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val fast = graft.queries.PipelineQueries.starComponents(edges.toDF("u", "v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = graft.queries.PipelineQueries
        .starComponents(edges.toDF("u", "v"), driverLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == dist, s"paths disagree: fast=$fast dist=$dist")
      fast
    }
    // a 64-node CHAIN — the exact topology where min-label propagation
    // needs O(diameter) rounds; star contraction must land everyone on 0
    val chain = (0L until 63L).map(i => i -> (i + 1))
    val c1 = cc(chain)
    assert((0L to 63L).forall(c1(_) == 0L), s"chain: $c1")
    // a cycle plus a pendant, reversed and duplicated edges, self-loop
    val messy = Seq(5L -> 6L, 6L -> 7L, 7L -> 5L, 7L -> 7L, 6L -> 5L, 9L -> 7L)
    val c2 = cc(messy)
    assert(Seq(5L, 6L, 7L, 9L).forall(c2(_) == 5L), s"cycle+pendant: $c2")
    // two components + a star with a LATE center (high ids around a low)
    val multi = Seq(10L -> 11L, 30L -> 31L, 31L -> 32L,
      100L -> 1L, 101L -> 1L, 102L -> 1L)
    val c3 = cc(multi)
    assert(c3(10L) == 10L && c3(11L) == 10L)
    assert(Seq(30L, 31L, 32L).forall(c3(_) == 30L))
    assert(Seq(1L, 100L, 101L, 102L).forall(c3(_) == 1L))
    // empty residual: no rounds, empty map
    assert(cc(Seq.empty).isEmpty)
    // chain of 2-cliques bridged pairwise (bucket-bridge shape)
    val bridged = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L,
      20L -> 21L)
    val c4 = cc(bridged)
    assert((1L to 6L).forall(c4(_) == 1L) && c4(21L) == 20L, s"$c4")
  }

  test("dup clusters: ids are member minima, sizes >= 2, members exist") {
    val clusters = run("q_pipeline_dup_clusters").collect()
    clusters.foreach { r =>
      assert(r.getLong(1) >= 2, "singleton cluster reported")
      assert(r.getLong(0) < r.getLong(2), "cluster id is not the min member")
    }
    val ids = clusters.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "duplicate cluster ids")
  }

  test("boilerplate removal: kept chunks are verbatim in-order slices, shared chunks gone") {
    val rows = run("q_pipeline_boilerplate").collect()
    assert(rows.nonEmpty)
    val original = graft.engine.Tables(spark, sf).documents
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // every cleaned text is a subsequence of the original's 10-word
    // chunk decomposition (order preserved, nothing invented)
    rows.foreach { r =>
      val doc = r.getLong(0)
      val cleanedChunks = r.getString(2).split(" ").grouped(10).map(_.mkString(" ")).toSeq
      val origChunks = original(doc).split(" ").grouped(10).map(_.mkString(" ")).toSeq
      // kept chunks appear in origChunks in the same relative order
      var oi = 0
      cleanedChunks.foreach { c =>
        val at = origChunks.indexOf(c, oi)
        assert(at >= 0, s"doc $doc: cleaned chunk not found in order: '$c'")
        oi = at + 1
      }
      assert(r.getLong(1) == cleanedChunks.size, s"doc $doc n_kept mismatch")
    }
    // no surviving chunk is shared by 2+ docs in the OUTPUT (the
    // boilerplate definition, re-checked on the result)
    val chunkDocs = rows.flatMap { r =>
      r.getString(2).split(" ").grouped(10).map(_.mkString(" ")).map(_ -> r.getLong(0)) }
    val byChunk = chunkDocs.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).distinct.size }
    assert(byChunk.values.forall(_ < 2), "a corpus-shared chunk survived removal")
  }

  test("train order: a permutation, shards range-contiguous, positions dense per shard") {
    val rows = run("q_pipeline_train_order").collect()
    val nDocs = graft.engine.Tables(spark, sf).documents.count()
    assert(rows.length.toLong == nDocs, "train order dropped or duplicated docs")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length, "doc repeated")
    // per shard: positions dense from 0
    rows.groupBy(_.getLong(1)).foreach { case (shard, rs) =>
      val pos = rs.map(_.getLong(2)).sorted
      assert(pos.zipWithIndex.forall { case (p, i) => p == i },
        s"shard $shard positions not dense: ${pos.take(5).mkString(",")}")
      assert(shard >= 0 && shard <= 7, s"shard $shard out of range")
    }
    // deterministic: re-run is bit-identical (the training-restart contract)
    val again = run("q_pipeline_train_order").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("dedup apply: kept+dropped accounts for every document exactly once") {
    val rows = run("q_pipeline_dedup_apply").collect()
    val t = graft.engine.Tables(spark, sf)
    val total = t.documents.count()
    val accounted = rows.map(r => r.getLong(1) + r.getLong(2)).sum
    assert(accounted == total, s"dedup apply accounts $accounted of $total docs")
    // kept ids must be distinct minima: re-derive canonical set directly
    val keptExpect = t.documents
      .groupBy(md5(col("text"))).agg(min(col("doc_id")).as("k"))
      .count()
    assert(rows.map(_.getLong(1)).sum == keptExpect, "kept count != distinct-content count")
  }

  test("token budget: selected sources form a prefix of the contribution ranking") {
    val rows = run("q_pipeline_token_budget").collect()
    assert(rows.nonEmpty)
    val t = graft.engine.Tables(spark, sf)
    val all = t.documents.groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("toks"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (s2, tk) => (-tk, s2) }
    val totalToks = all.map(_._2).sum
    // result = the maximal prefix whose PRIOR cumulative stays under half
    var cum = 0L
    val expect = all.takeWhile { case (_, tk) => val keep = cum < totalToks * 0.5; cum += tk; keep }
    assert(rows.map(_.getString(0)).toSeq == expect.map(_._1).toSeq,
      "selected sources are not the ranking prefix")
    // priors are consistent running sums
    rows.foreach { r =>
      // recompute prior directly from the ranking
      val idx = all.indexWhere(_._1 == r.getString(0))
      val prior = all.take(idx).map(_._2).sum
      assert(r.getLong(2) == prior, s"source ${r.getString(0)} prior ${r.getLong(2)} != $prior")
    }
  }

  test("prefix-filtered jaccard is a lossless superset of the df-capped join") {
    // the df<=1000 cap can only LOWER a pair's counted intersection, so
    // every pair the capped operator reports must also appear in the
    // exact prefix-filtered result, with jaccard >= the capped estimate
    val exact = run("q_dedup_jaccard_prefix").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = run("q_dedup_jaccard").collect()
    capped.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.contains(key), s"capped pair $key missing from exact result")
      assert(exact(key) >= r.getDouble(2) - 1e-9,
        s"exact jaccard ${exact(key)} below capped estimate ${r.getDouble(2)} for $key")
    }
    exact.values.foreach(j => assert(j >= 0.5 && j <= 1.0))
  }

  test("quality score: sigmoid in (0,1), keep flag consistent, matches a hand computation") {
    val rows = run("q_pipeline_quality_score").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getDouble(2)
      assert(q > 0.0 && q < 1.0, s"score $q outside (0,1)")
      assert(r.getBoolean(3) == (q >= 0.5) || math.abs(q - 0.5) < 1e-9,
        s"keep flag inconsistent at $q")
    }
    // hand-compute one doc's features
    val doc = graft.engine.Tables(spark, sf).documents
      .select(col("doc_id"), col("text")).head()
    val words = doc.getString(1).split(" ", -1)
    val nw = words.length.toDouble
    val stops = Set("the", "a", "of", "and", "der", "el", "le", "de", "la")
    val logit = -2.0 + 0.3 * math.log(nw) +
      0.2 * ((doc.getString(1).length - (nw - 1)) / nw) -
      1.5 * (words.count(stops) / nw) + 2.0 * (words.distinct.length / nw)
    val expect = 1.0 / (1.0 + math.exp(-logit))
    val got = rows.find(_.getLong(0) == doc.getLong(0)).get.getDouble(2)
    assert(math.abs(got - expect) < 1e-8, s"doc ${doc.getLong(0)}: $got vs $expect")
  }
}

class PackSequencesScanSpec extends SparkSpecBase {
  test("sequence packing tokenizes once (second pass reads checkpoint blocks, not parquet)") {
    val d = SparkEntry.defs.find(_.name == "q_pipeline_pack_sequences").get
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      d.run(spark, sf).write.format("noop").mode("overwrite").save()
      org.apache.spark.ListenerDrain(spark.sparkContext)
      val fileSize = new java.io.File(s"$sf/documents.parquet").length()
      assert(bytesRead.get() < (fileSize * 3) / 2,
        s"read ${bytesRead.get()} bytes vs file $fileSize — the tokenize scan ran twice")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

class MediaCodecsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.operators.MediaCodecs._

  test("WAV round trip preserves rate/channels/samples") {
    val s = Array.tabulate(777)(i => ((i * 131) % 65536 - 32768).toShort)
    val w = WavCodec.decode(WavCodec.encode(s, 16000, channels = 2))
    assert(w.sampleRate == 16000 && w.channels == 2)
    assert(w.samples.toSeq == s.toSeq)
  }

  test("WAV decode walks real chunk layouts (hand-built, not via encode)") {
    // golden bytes built by hand: LIST chunk before fmt, an odd-sized
    // chunk with its pad byte, then data — the layouts real encoders
    // produce. Symmetric encode/decode bugs cannot hide here.
    val bb = java.nio.ByteBuffer.allocate(128).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(0); bb.put("WAVE".getBytes)
    bb.put("LIST".getBytes); bb.putInt(4); bb.put("INFO".getBytes)
    bb.put("junk".getBytes); bb.putInt(3); bb.put(Array[Byte](1, 2, 3)); bb.put(0.toByte) // pad
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(6)
    bb.putShort(100); bb.putShort(-200); bb.putShort(32767)
    val w = WavCodec.decode(java.util.Arrays.copyOf(bb.array(), bb.position()))
    assert(w.sampleRate == 8000 && w.channels == 1)
    assert(w.samples.toSeq == Seq[Short](100, -200, 32767))
  }

  test("WAV decode rejects malformed payloads with clear errors") {
    def err(b: Array[Byte]) = intercept[IllegalArgumentException](WavCodec.decode(b))
    assert(err("not a wav at all".getBytes).getMessage.contains("RIFF"))
    assert(err(Array[Byte](1, 2)).getMessage.contains("truncated"))
    // float PCM (format 3) is honestly rejected, not mis-parsed
    val f = WavCodec.encode(Array[Short](1, 2), 8000)
    f(20) = 3 // audioFormat field
    assert(err(f).getMessage.contains("unsupported audio format"))
  }

  test("PPM decode handles comments and arbitrary header whitespace (hand-built)") {
    val rgb = Array.tabulate(2 * 2 * 3)(i => (i * 9).toByte)
    val hdr = "P6 # a comment\n# another\n  2\t2 # dims\n255\n".getBytes("US-ASCII")
    val img = PpmCodec.decode(hdr ++ rgb)
    assert(img.width == 2 && img.height == 2 && img.rgb.toSeq == rgb.toSeq)
    // round trip
    val rt = PpmCodec.decode(PpmCodec.encode(PpmImage(2, 2, rgb)))
    assert(rt.rgb.toSeq == rgb.toSeq)
    // truncated raster and wrong magic are rejected
    intercept[IllegalArgumentException](PpmCodec.decode(hdr ++ rgb.take(5)))
    intercept[IllegalArgumentException](PpmCodec.decode("P5 2 2 255\n....".getBytes))
  }

  test("AVI round-trips frames through bottom-up padded DIB rows") {
    // w=7 -> row 21 bytes, stride 24: padding is actually exercised
    val w = 7; val h = 3; val nf = 3
    val frames = Array.tabulate(nf)(f =>
      Array.tabulate(w * h * 3)(i => ((f * 17 + i) % 256).toByte))
    val enc = AviCodec.encode(AviVideo(w, h, 10, frames))
    val dec = AviCodec.decode(enc)
    assert(dec.width == w && dec.height == h && dec.fps == 10)
    assert(dec.frames.length == nf)
    for (f <- 0 until nf)
      assert(dec.frames(f).toSeq == frames(f).toSeq, s"frame $f")
  }

  test("randomized round trips: every codec, arbitrary geometry (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def check(p: Prop): Unit = {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), p)
      assert(res.passed, res.status.toString)
    }
    val wav = for {
      n <- Gen.choose(0, 4000)
      rate <- Gen.oneOf(8000, 16000, 22050, 44100, 48000)
      ch <- Gen.choose(1, 4)
      seed <- Gen.choose(Int.MinValue, Int.MaxValue)
    } yield (Array.tabulate(n)(i => ((i * 131 + seed) % 65536 - 32768).toShort), rate, ch)
    check(Prop.forAll(wav) { case (s, rate, ch) =>
      val w = WavCodec.decode(WavCodec.encode(s, rate, channels = ch))
      w.sampleRate == rate && w.channels == ch && w.samples.toSeq == s.toSeq
    })
    val ppm = for {
      w <- Gen.choose(1, 64); h <- Gen.choose(1, 64)
      seed <- Gen.choose(0, 255)
    } yield PpmImage(w, h, Array.tabulate(w * h * 3)(i => ((i * 7 + seed) % 256).toByte))
    check(Prop.forAll(ppm) { img =>
      val rt = PpmCodec.decode(PpmCodec.encode(img))
      rt.width == img.width && rt.height == img.height && rt.rgb.toSeq == img.rgb.toSeq
    })
    // widths chosen to hit every stride-padding residue (w*3 mod 4)
    val avi = for {
      w <- Gen.choose(1, 33); h <- Gen.choose(1, 17)
      nf <- Gen.choose(1, 5); fps <- Gen.choose(1, 60)
      seed <- Gen.choose(0, 255)
    } yield AviVideo(w, h, fps,
      Array.tabulate(nf)(f => Array.tabulate(w * h * 3)(i => ((f * 31 + i * 13 + seed) % 256).toByte)))
    check(Prop.forAll(avi) { v =>
      val d = AviCodec.decode(AviCodec.encode(v))
      d.width == v.width && d.height == v.height && d.fps == v.fps &&
        d.frames.length == v.frames.length &&
        v.frames.indices.forall(f => d.frames(f).toSeq == v.frames(f).toSeq)
    })
  }

  test("AVI decode rejects malformed payloads with clear errors") {
    def err(b: Array[Byte]) = intercept[IllegalArgumentException](AviCodec.decode(b))
    assert(err("nonsense".getBytes).getMessage.contains("truncated"))
    assert(err(("RIFF" + "\u0004\u0000\u0000\u0000" + "WAVE").getBytes("ISO-8859-1"))
      .getMessage.contains("not an AVI"))
    val good = AviCodec.encode(AviVideo(6, 5, 10, Array(Array.fill(90)(1.toByte))))
    // truncating mid-frame must fail the chunk walk, not decode garbage
    intercept[IllegalArgumentException](AviCodec.decode(java.util.Arrays.copyOf(good, good.length - 40)))
    // compressed streams are honestly rejected: biCompression != 0
    val bad = good.clone()
    // strf payload starts after RIFF(12)+LIST hdrl hdr(12)+avih(8+56)+LIST strl hdr(12)+strh(8+56)+strf hdr(8)
    val strfOff = 12 + 12 + 64 + 12 + 64 + 8
    bad(strfOff + 16) = 1 // biCompression = BI_RLE8
    assert(intercept[IllegalArgumentException](AviCodec.decode(bad))
      .getMessage.contains("compressed"))
  }
}
