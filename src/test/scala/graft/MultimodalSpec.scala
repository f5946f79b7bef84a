package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** The REAL image-decode path (round 6): ImageIO PNG decode through the
  * multimodal mapPartitions slot, gated on exact geometry + a
  * position-weighted pixel sum (see Multimodal.buildPng/decodePng).
  * The oracle gate (q_image_ingest) covers the distributed round trip;
  * these specs pin the decode function itself, including the failure
  * modes the weighted sum exists to catch. */
class MultimodalSpec extends SparkSpec {

  test("PNG encode/decode round trip recovers exact geometry and pixels") {
    for (id <- Seq(0L, 7L, 39L, 199L)) {
      val (w, h) = Multimodal.imageDims(id)
      val Some((dw, dh, sum)) = Multimodal.decodePng(Multimodal.buildPng(id))
      assert(dw === w && dh === h)
      // recompute the expected weighted sum directly from the image function
      var expect = 0L
      for (y <- 0 until h; x <- 0 until w)
        expect += ((x * 7 + y * 13 + id) % 256) * (y.toLong * w + x + 1)
      assert(sum === expect, s"doc $id")
    }
  }

  test("weighted pixel sum is axis-sensitive (transposed image differs)") {
    // a decoder that swapped x/y would produce a different sum unless the
    // image is symmetric — build an asymmetric case and check directly
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val t = new java.awt.image.BufferedImage(2, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) {
      val v = x * 7 + y * 13
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
      t.setRGB(y, x, (v << 16) | (v << 8) | v)
    }
    def enc(i: java.awt.image.BufferedImage) = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(i, "png", bos); bos.toByteArray
    }
    val Some((_, _, s1)) = Multimodal.decodePng(enc(img))
    val Some((_, _, s2)) = Multimodal.decodePng(enc(t))
    assert(s1 !== s2)
  }

  test("undecodable bytes return None, not an exception") {
    assert(Multimodal.decodePng("not a png".getBytes).isEmpty)
    assert(Multimodal.decodePng(Array.emptyByteArray).isEmpty)
    // a truncated PNG (valid magic, cut stream)
    val full = Multimodal.buildPng(5L)
    assert(Multimodal.decodePng(full.take(20)).isEmpty)
  }

  test("NN resize recovers the closed-form resampled pixels") {
    for (id <- Seq(0L, 7L, 39L)) {
      val (w, h) = Multimodal.imageDims(id)
      val Some((ow, oh, sum)) = Multimodal.resizePng(Multimodal.buildPng(id), 16)
      assert(ow === math.min(w, 16) && oh === math.min(h, 16))
      var expect = 0L
      for (y <- 0 until oh; x <- 0 until ow) {
        val sx = x * w / ow; val sy = y * h / oh
        expect += ((sx * 7 + sy * 13 + id) % 256) * (y.toLong * ow + x + 1)
      }
      assert(sum === expect, s"doc $id")
    }
    assert(Multimodal.resizePng("junk".getBytes, 16).isEmpty)
  }

  test("WAV encode/decode round trip recovers exact format and samples") {
    for (id <- Seq(0L, 1L, 7L, 42L, 199L)) {
      val (rate, channels, frames) = Multimodal.audioParams(id)
      val Some((dr, dc, df, sum)) = Multimodal.decodeWav(Multimodal.buildWav(id))
      assert(dr === rate && dc === channels && df === frames.toLong, s"doc $id format")
      var expect = 0L
      for (i <- 0 until frames * channels)
        expect += Multimodal.audioSample(id, i).toLong * (i + 1)
      assert(sum === expect, s"doc $id")
    }
  }

  test("weighted sample sum is order-sensitive (byte-swapped stream differs)") {
    // a decoder with the wrong endianness reads each sample byte-swapped;
    // doc 1's stream contains asymmetric samples so the sums must differ
    val bytes = Multimodal.buildWav(1L)
    val swapped = bytes.clone()
    var i = 44 // past the RIFF/fmt/data headers
    while (i + 1 < swapped.length) {
      val t = swapped(i); swapped(i) = swapped(i + 1); swapped(i + 1) = t
      i += 2
    }
    val Some((_, _, _, s1)) = Multimodal.decodeWav(bytes)
    val Some((_, _, _, s2)) = Multimodal.decodeWav(swapped)
    assert(s1 !== s2)
  }

  test("hand-written RIFF writers keep their pinned bytes (ids 0-49)") {
    // SHA-256 of the concatenated output for ids 0..49, one digest per
    // writer and pixel/sample rule; a change to the shared RIFF chunk
    // writer, the fmt/avih/strh/strf layouts or a sample rule shows here
    def sha(build: Long => Array[Byte]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (0L until 50L).foreach(id => md.update(build(id)))
      md.digest().map("%02x".format(_)).mkString
    }
    val got = Seq(
      "buildWav" -> sha(Multimodal.buildWav),
      "buildWavClip" -> sha(Multimodal.buildWavClip),
      "buildWavVad" -> sha(Multimodal.buildWavVad),
      "buildWavTextured(_, 1)" -> sha(Multimodal.buildWavTextured(_, 1)),
      "buildWavTextured(_, 2)" -> sha(Multimodal.buildWavTextured(_, 2)),
      "buildAvi" -> sha(Multimodal.buildAvi),
      "buildAviDib shots" -> sha(id => Multimodal.buildAviDib(
        ((id % 19 + 6).toInt, (id % 11 + 6).toInt, Multimodal.ShotFrames),
        Multimodal.shotPixel(id))),
      "buildAviDib video textured" -> sha(id => Multimodal.buildAviDib(
        Multimodal.aviDims(id), Multimodal.videoPixelTextured(id, 0))))
    assert(got === Seq(
      "buildWav" -> "448762ae7f7fba6b0519a4fdf2b383496cb24c6db43ce6a24470ce7baca73b65",
      "buildWavClip" -> "6e5fd04fefe0b06b3a293d98161623248cd61574aa3ba88783e1035f5db76b49",
      "buildWavVad" -> "9aed172b92bbe0f647973858db09abd6b48c55c837f5312bbda86be97da1b0c5",
      "buildWavTextured(_, 1)" -> "9da6820068f69c73f5cce52ac8a8105b16ef7e580e8126e8043084926a77adaa",
      "buildWavTextured(_, 2)" -> "6fbc0ff44cf457674e5d9a81f1e7e84ecda64434aebb0c3fcbfde1916d824edd",
      "buildAvi" -> "ec2406e2c7e97e7839a8e3abe018674c2c7448c0415d2b8bba2e64d89dd25c2e",
      "buildAviDib shots" -> "2c64bcb8f15f4981df9b186f1278a4240c3a7a4594d9a62edade14be7570e072",
      "buildAviDib video textured" ->
        "b08d2dbc71252f2b3ece63e4fce69798ca56f7c44eb4fcb4100f1cc79a09f902"))
  }

  test("undecodable audio bytes return None, not an exception") {
    assert(Multimodal.decodeWav("not a wav".getBytes).isEmpty)
    assert(Multimodal.decodeWav(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeWav(Multimodal.buildWav(3L).take(30)).isEmpty)
  }

  test("q_audio_ingest decodes every staged WAV with real format") {
    val out = SparkEntry.queries("q_audio_ingest")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      val (rate, channels, frames) = Multimodal.audioParams(id)
      assert(r.getInt(1) === rate, s"doc $id rate")
      assert(r.getInt(2) === channels, s"doc $id channels")
      assert(r.getLong(3) === frames.toLong, s"doc $id frames")
    }
  }

  test("GIF encode/decode round trip recovers every frame exactly") {
    for (id <- Seq(0L, 3L, 20L, 199L)) {
      val (w, h, nFrames) = Multimodal.gifDims(id)
      val frames = Multimodal.decodeGifFrames(Multimodal.buildGif(id))
      assert(frames.length === nFrames, s"doc $id frame count")
      frames.foreach { case (f, dw, dh, sum) =>
        assert(dw === w && dh === h, s"doc $id frame $f dims")
        var expect = 0L
        for (y <- 0 until h; x <- 0 until w)
          expect += Multimodal.gifPixel(id, f, x, y).toLong * (y.toLong * w + x + 1)
        assert(sum === expect, s"doc $id frame $f pixels")
      }
    }
  }

  test("GIF frames are distinct (frame-order swaps would be caught)") {
    val frames = Multimodal.decodeGifFrames(Multimodal.buildGif(7L))
    val sums = frames.map(_._4)
    assert(sums.distinct.length === sums.length)
  }

  test("undecodable GIF bytes return empty, not an exception") {
    assert(Multimodal.decodeGifFrames("not a gif".getBytes).isEmpty)
    assert(Multimodal.decodeGifFrames(Array.emptyByteArray).isEmpty)
  }

  test("AVI encode/decode round trip recovers every DIB frame exactly") {
    for (id <- Seq(0L, 3L, 7L, 20L, 199L)) {
      val (w, h, nFrames) = Multimodal.aviDims(id)
      val frames = Multimodal.decodeAviFrames(Multimodal.buildAvi(id))
      assert(frames.length === nFrames, s"doc $id frame count")
      frames.foreach { case (f, dw, dh, sum) =>
        assert(dw === w && dh === h, s"doc $id frame $f dims")
        var expect = 0L
        for (y <- 0 until h; x <- 0 until w)
          expect += Multimodal.aviPixel(id, f, x, y).toLong * (y.toLong * w + x + 1)
        assert(sum === expect, s"doc $id frame $f pixels")
      }
    }
  }

  test("AVI stride padding is exercised (widths with w*3 % 4 != 0)") {
    // the generator must produce unpadded-stride widths, or the padding
    // rule is untested
    val widths = (0L until 200L).map(id => Multimodal.aviDims(id)._1)
    assert(widths.exists(w => w * 3 % 4 != 0))
    assert(widths.exists(w => w * 3 % 4 == 0))
  }

  test("MJPEG AVI decodes through the same walker with JPEG tolerance") {
    for (id <- Seq(1L, 5L, 42L)) {
      val (w, h, nFrames) = Multimodal.aviDims(id)
      val frames = Multimodal.decodeAviFrames(Multimodal.buildAviMjpeg(id))
      assert(frames.length === nFrames, s"doc $id frame count")
      frames.foreach { case (f, dw, dh, sum) =>
        assert(dw === w && dh === h, s"doc $id frame $f dims")
        // JPEG is lossy: compare the weighted sum within a per-pixel
        // error budget of +/-8 gray levels
        var expect = 0L
        var budget = 0L
        for (y <- 0 until h; x <- 0 until w) {
          expect += Multimodal.aviPixel(id, f, x, y).toLong * (y.toLong * w + x + 1)
          budget += 8L * (y.toLong * w + x + 1)
        }
        assert(math.abs(sum - expect) <= budget, s"doc $id frame $f pixels drifted")
      }
    }
  }

  test("undecodable AVI bytes return empty, not an exception") {
    assert(Multimodal.decodeAviFrames("not an avi".getBytes).isEmpty)
    assert(Multimodal.decodeAviFrames(Array.emptyByteArray).isEmpty)
    // truncated mid-frame: the walker stops at the malformed chunk
    val full = Multimodal.buildAvi(5L)
    assert(Multimodal.decodeAviFrames(full.take(40)).isEmpty)
  }

  test("q_image_ingest decodes every staged PNG with real dimensions") {
    val out = SparkEntry.queries("q_image_ingest")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = Multimodal.imageDims(id)
      assert(r.getInt(1) === w, s"doc $id width")
      assert(r.getInt(2) === h, s"doc $id height")
      assert(r.getLong(3) > 0L, s"doc $id decode failed (sentinel)")
    }
  }

  test("dhash bands match a direct bit computation on the decoded raster") {
    for (id <- Seq(0L, 7L, 42L, 137L)) {
      val bytes = Multimodal.buildPngTextured(id, 0)
      val Some((b0, b1, b2, b3)) = Multimodal.dhashBands(bytes)
      // independent recomputation straight from the pixel formula
      val (w, h) = Multimodal.imageDims(id)
      def gray(sx: Int, sy: Int): Int =
        ((sx * sx * 3 + sy * sy * 5 + sx * sy * 7 + id * 11) % 256).toInt
      val bands = new Array[Int](4)
      for (y <- 0 until 8; x <- 0 until 8) {
        val sy = y * h / 8
        if (gray((x + 1) * w / 9, sy) > gray(x * w / 9, sy)) {
          val bi = y * 8 + x
          bands(bi / 16) |= 1 << (bi % 16)
        }
      }
      assert((b0, b1, b2, b3) === ((bands(0), bands(1), bands(2), bands(3))),
        s"doc $id bands")
    }
    // undecodable bytes -> None, never a throw
    assert(Multimodal.dhashBands("not a png".getBytes).isEmpty)
    assert(Multimodal.dhashBands(Array.emptyByteArray).isEmpty)
  }

  test("dhash banded LSH recovers the brightness-shifted planted copies") {
    val out = SparkEntry.queries("q_image_dhash")(spark, sf0001).collect()
    assert(out.length === 220) // 200 bases + 20 planted copies
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // every planted copy within the Hamming threshold points at its base
    var recovered = 0
    for (id <- 0L until 20L) {
      val copy = byId(Multimodal.DhashCopyBase + id)
      if (!copy.isNullAt(5)) {
        assert(copy.getLong(5) === id, s"copy of $id matched the wrong base")
        assert(copy.getLong(6) <= Multimodal.DhashHammingMax)
        recovered += 1
      }
    }
    // dHash is brightness-robust by design: the +3 shift leaves >= 15 of
    // 20 copies within Hamming 3 (deterministically 18 on this fixture)
    assert(recovered >= 15, s"only $recovered of 20 planted copies recovered")
    // the hash is NOT degenerate: popcounts spread around 32, so
    // unrelated bases almost never collide (pigeonhole banding is exact,
    // so any "miss" would be an oracle mismatch, not a recall gap)
    val unrelated = out.count(r => r.getLong(0) < Multimodal.DhashCopyBase &&
      r.getLong(0) >= 20 && !r.isNullAt(5))
    assert(unrelated <= 4, s"$unrelated unrelated bases matched — degenerate hash?")
  }

  test("dhash index probe: stored bases match, unseen probes come back null") {
    val out = SparkEntry.queries("q_dhash_incremental")(spark, sf0001).collect()
    assert(out.length === 120) // 100 odd bases + 20 planted copies
    // copies of EVEN (indexed) bases within the threshold hit that base
    var hit = 0
    for (r <- out if r.getLong(0) >= Multimodal.DhashCopyBase &&
        (r.getLong(0) - Multimodal.DhashCopyBase) % 2 == 0 && !r.isNullAt(1)) {
      assert(r.getLong(1) === r.getLong(0) - Multimodal.DhashCopyBase)
      assert(r.getLong(2) <= Multimodal.DhashHammingMax)
      hit += 1
    }
    assert(hit >= 7, s"only $hit even-base copies hit the index")
    // copies of ODD bases probe an index that does NOT contain their
    // base — near-misses against unrelated stored images stay rare
    val oddCopyHits = out.count(r => r.getLong(0) >= Multimodal.DhashCopyBase &&
      (r.getLong(0) - Multimodal.DhashCopyBase) % 2 == 1 && !r.isNullAt(1))
    assert(oddCopyHits <= 2, s"$oddCopyHits odd-base copies matched — degenerate?")
  }

  test("audio fingerprint is loudness-invariant and non-degenerate") {
    // every half-loudness copy fingerprints identically to its base
    // (scaling all samples scales all frame energies together)
    for (id <- 0L until 20L) {
      val base = Multimodal.audioFingerprint(Multimodal.buildWavTextured(id, 1))
      val half = Multimodal.audioFingerprint(Multimodal.buildWavTextured(id, 2))
      assert(base.isDefined && base === half, s"clip $id fp drifted under halving")
    }
    // undecodable bytes -> None
    assert(Multimodal.audioFingerprint("not audio".getBytes).isEmpty)
    assert(Multimodal.audioFingerprint(Array.emptyByteArray).isEmpty)
    // undecodable clips share the -1 sentinel bucket but are NOT
    // duplicates of each other
    import spark.implicits._
    val junk = Seq((1L, "xx".getBytes), (2L, "yy".getBytes)).toDF("doc_id", "media")
    val jr = Multimodal.audioFpVerdicts(junk).collect()
    assert(jr.length === 2)
    assert(jr.forall(r => r.getLong(1) === -1L && r.isNullAt(2)))
    // the declared query recovers every planted copy (dup_of non-null);
    // base buckets stay diverse (fingerprints are 15-bit profiles, some
    // natural collisions are expected and deterministic)
    val out = SparkEntry.queries("q_audio_fp")(spark, sf0001).collect()
    assert(out.length === 220)
    val copies = out.filter(_.getLong(0) >= Multimodal.DhashCopyBase)
    assert(copies.length === 20)
    assert(copies.forall(!_.isNullAt(2)), "a planted copy missed its bucket")
    val distinctFps = out.filter(_.getLong(0) < Multimodal.DhashCopyBase)
      .map(_.getLong(1)).distinct.length
    assert(distinctFps >= 150, s"only $distinctFps distinct fingerprints — degenerate")
  }

  test("resampleLinear: identity at equal rates, exact doubling, tail clamp") {
    // identity: rem = 0 at every output frame, so samples pass through
    val mono = Array(100, -200, 32767, -32768, 5)
    assert(Multimodal.resampleLinear(mono, 1, 16000, 16000).toSeq === mono.toSeq)
    // doubling 8k->16k: even k copies source, odd k is the trunc-toward-
    // zero midpoint; the final output frame clamps s1 to the last source
    // frame and lands ON it (rem = 8000, (s0-s0) interpolation)
    val out = Multimodal.resampleLinear(mono, 1, 8000, 16000)
    assert(out.length === 10)
    assert(out(0) === 100 && out(2) === -200 && out(4) === 32767)
    assert(out(1) === 100 + (-200 - 100) / 2)      // -50 (trunc toward zero)
    assert(out(3) === -200 + (32767 + 200) / 2)     // midpoint up
    assert(out(9) === 5, "tail clamp must repeat the last source frame")
    // stereo: channels interpolate independently (interleaved layout)
    val stereo = Array(10, -10, 30, -30) // frames (10,-10),(30,-30)
    val so = Multimodal.resampleLinear(stereo, 2, 8000, 16000)
    assert(so.toSeq === Seq(10, -10, 20, -20, 30, -30, 30, -30))
    // empty input
    assert(Multimodal.resampleLinear(Array.emptyByteArray.map(_.toInt), 1, 8000, 16000).isEmpty)
  }

  test("decodeWavSamples recovers the exact interleaved PCM stream") {
    for (id <- Seq(0L, 3L, 7L)) {
      val (rate, channels, frames) = Multimodal.audioParams(id)
      val Some((dr, dc, samples)) = Multimodal.decodeWavSamples(Multimodal.buildWav(id))
      assert(dr === rate && dc === channels)
      assert(samples.length === frames * channels)
      samples.zipWithIndex.foreach { case (s, i) =>
        assert(s === Multimodal.audioSample(id, i), s"clip $id sample $i")
      }
    }
    assert(Multimodal.decodeWavSamples("not audio".getBytes).isEmpty)
  }

  test("shot detection: decoded MADs match the planted scene-cut deltas") {
    for (id <- Seq(0L, 1L, 2L, 7L, 199L)) {
      val seg = Multimodal.shotSegLen(id)
      val dims = ((id % 19 + 6).toInt, (id % 11 + 6).toInt, Multimodal.ShotFrames)
      val bytes = Multimodal.buildAviDib(dims, Multimodal.shotPixel(id))
      val Some(frames) = Multimodal.decodeAviGray(bytes)
      assert(frames.forall(g => g.w === dims._1 && g.h === dims._2) &&
        frames.length === Multimodal.ShotFrames)
      Multimodal.shotBoundaries(frames).foreach { case (f, mad, cut) =>
        val expect =
          if (f % seg != 0) 1L
          else if ((f / seg) % 2 == 1) (41 - seg).toLong
          else (39 + seg).toLong
        assert(mad === expect, s"clip $id frame $f MAD")
        assert(cut === (expect > Multimodal.ShotMadThreshold), s"clip $id frame $f verdict")
      }
    }
  }

  test("decodeAviGray rejects MJPEG streams and malformed bytes") {
    assert(Multimodal.decodeAviGray("not an avi".getBytes).isEmpty)
    assert(Multimodal.decodeAviGray(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeAviGray(Multimodal.buildAviMjpeg(5L)).isEmpty,
      "gray decode is DIB-exact only; MJPEG stays on the tolerance path")
    // truncated mid-frame: the walker stops, frame count mismatches, None
    val full = Multimodal.buildAviDib((8, 6, 3), (f, x, y) => (x + y + f) % 200)
    assert(Multimodal.decodeAviGray(java.util.Arrays.copyOf(full, 60)).isEmpty)
  }

  test("dhashBandsOfRaster agrees with the ImageIO dHash on the same image") {
    for (id <- Seq(3L, 17L, 42L)) {
      val png = Multimodal.buildPngTextured(id, 0)
      val fromPng = Multimodal.dhashBands(png).get
      val w = (id % 40 + 8).toInt
      val h = (id % 23 + 8).toInt
      val px = new Multimodal.Gray(w, h) {
        def apply(x: Int, y: Int): Int =
          ((x.toLong * x * 3 + y.toLong * y * 5 + x.toLong * y * 7 + id * 11) % 256).toInt
      }
      assert(Multimodal.dhashBandsOfRaster(px) === fromPng)
    }
  }

  test("video near-dup: planted brightness copies match their own base") {
    import spark.implicits._
    val base = spark.range(40).as[Long]
      .mapPartitions(it => it.map(id =>
        (id, Multimodal.buildAviDib(Multimodal.aviDims(id),
          Multimodal.videoPixelTextured(id, 0)))))
    val copies = spark.range(8).as[Long]
      .mapPartitions(it => it.map(id =>
        (Multimodal.DhashCopyBase + id, Multimodal.buildAviDib(Multimodal.aviDims(id),
          Multimodal.videoPixelTextured(id, Multimodal.DhashCopyDelta)))))
    val out = Multimodal.videoNearDups(base.union(copies).toDF("doc_id", "media"))
      .collect()
    assert(out.length === 48)
    val matchedCopies = out.filter(r =>
      r.getAs[Long]("doc_id") >= Multimodal.DhashCopyBase &&
        !r.isNullAt(r.fieldIndex("dup_of")))
    // +3 gray levels flips a bit only at a mod-256 wrap: most copies land
    // within the threshold, and every match is the copy's OWN base (an
    // unrelated clip sits ~32 bits/frame away)
    assert(matchedCopies.length >= 4, s"only ${matchedCopies.length} copies matched")
    matchedCopies.foreach { r =>
      assert(r.getAs[Long]("dup_of") ===
        r.getAs[Long]("doc_id") - Multimodal.DhashCopyBase)
      assert(r.getAs[Long]("min_hamming") <= Multimodal.VideoHammingMax)
    }
    // clips with different frame counts never pair, whatever their pixels
    out.filter(r => !r.isNullAt(r.fieldIndex("dup_of"))).foreach { r =>
      val nf = r.getAs[Int]("n_frames")
      val other = out.find(_.getAs[Long]("doc_id") == r.getAs[Long]("dup_of")).get
      assert(other.getAs[Int]("n_frames") === nf)
    }
  }

  test("caption check: corrupted captions flag, clean ones verify") {
    for (id <- Seq(7L, 14L)) // % 7 == 0: planted width+1
      assert(Multimodal.captionFor(id) ===
        s"image ${id % 40 + 9}x${id % 23 + 8} gray mean ${Multimodal.pngMeanGray(id)}")
    for (id <- Seq(11L, 22L)) // % 11 == 0: planted mean+2 (content lie)
      assert(Multimodal.captionFor(id) ===
        s"image ${id % 40 + 8}x${id % 23 + 8} gray mean ${Multimodal.pngMeanGray(id) + 2}")
    for (id <- Seq(1L, 13L))
      assert(Multimodal.captionFor(id) ===
        s"image ${id % 40 + 8}x${id % 23 + 8} gray mean ${Multimodal.pngMeanGray(id)}")
    val out = Multimodal.qCaptionCheck(spark, sf0001).collect()
    assert(out.length === 200)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("consistent") === (id % 7 != 0 && id % 11 != 0))
      assert(r.getAs[Int]("img_w") === (id % 40 + 8).toInt,
        "image geometry must come from the REAL decode")
      assert(r.getAs[Int]("img_mean") === Multimodal.pngMeanGray(id),
        "mean brightness must come from the DECODED raster")
    }
  }

  test("caption trained: perfect held-out accuracy; content lies the geometry check misses are caught") {
    val out = Multimodal.qCaptionTrained(spark, sf0001).collect()
    assert(out.length === 200) // odd half of the 400-pair universe
    assert(out.forall(_.getAs[Boolean]("hit")),
      "the trained scorer must classify every HELD-OUT pair correctly")
    // negative control: pure content lies (id % 11 == 0, id % 7 != 0) —
    // the untrained geometry check passes them, the learned model must
    // reject them, and the label agrees with the model
    val meanLies = out.filter { r =>
      val id = r.getAs[Long]("doc_id"); id % 11 == 0 && id % 7 != 0
    }
    assert(meanLies.nonEmpty)
    meanLies.foreach { r =>
      assert(r.getAs[Boolean]("geom_said_ok"),
        "geometry-only verdict must MISS a pure content lie")
      assert(!r.getAs[Boolean]("pred") && r.getAs[Int]("y") === 0,
        s"trained scorer must catch the content lie at doc ${r.getAs[Long]("doc_id")}")
    }
    // clean pairs score confidently above the lies
    val cleanMin = out.filter(_.getAs[Int]("y") == 1).map(_.getAs[Double]("score")).min
    val lieMax = out.filter(_.getAs[Int]("y") == 0).map(_.getAs[Double]("score")).max
    assert(cleanMin > 0.5 && lieMax < 0.5,
      s"margin collapsed: cleanMin=$cleanMin lieMax=$lieMax")
    // the decode still feeds the features on the extended 200..399 range
    out.foreach { r =>
      assert(r.getAs[Int]("img_mean") ===
        Multimodal.pngMeanGray(r.getAs[Long]("doc_id")))
    }
  }

  test("jpegMeta: geometry, component count, JFIF — plus the DQT counts") {
    for (id <- Seq(0L, 1L, 7L, 42L, 199L)) {
      val bytes = Multimodal.buildJpeg(id)
      val Some((w, h, prec, nc, prog, jfif)) = Multimodal.jpegMeta(bytes)
      assert(w === (id % 40 + 8).toInt && h === (id % 23 + 8).toInt)
      assert(prec === 8 && !prog && jfif)
      assert(nc === (if (id % 2 == 0) 1 else 3))
      // DQT table count is an encoder-implementation fact (1 gray /
      // 2 color for the JDK writer) — pinned here, NOT in the oracle
      var i = 2; var dqt = 0
      var done = false
      while (!done && i + 4 <= bytes.length) {
        val m = bytes(i + 1) & 0xFF
        if (m == 0xDB) dqt += 1
        if (m == 0xDA) done = true
        else i += 2 + (((bytes(i + 2) & 0xFF) << 8) | (bytes(i + 3) & 0xFF))
      }
      assert(dqt === (if (id % 2 == 0) 1 else 2), s"DQT count for $id")
    }
  }

  test("jpegMeta: progressive flag, marker desync, SOS-before-SOF reject") {
    // hand-built minimal header with an SOF2 (progressive) frame segment
    def sof(marker: Int): Array[Byte] = Array[Byte](
      0xFF.toByte, 0xD8.toByte, // SOI
      0xFF.toByte, marker.toByte, 0, 11, 8, 0, 9, 0, 17, 1, 0x11, 0, 0)
    assert(Multimodal.jpegMeta(sof(0xC2)) === Some((17, 9, 8, 1, true, false)))
    assert(Multimodal.jpegMeta(sof(0xC0)) === Some((17, 9, 8, 1, false, false)))
    assert(Multimodal.jpegMeta("not a jpeg".getBytes).isEmpty)
    assert(Multimodal.jpegMeta(Array.emptyByteArray).isEmpty)
    // truncated mid-segment
    val full = Multimodal.buildJpeg(3L)
    assert(Multimodal.jpegMeta(java.util.Arrays.copyOf(full, 10)).isEmpty)
    // SOS with no preceding SOF is malformed, not a zero-dim frame
    val sos = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xDA.toByte, 0, 4, 0, 0)
    assert(Multimodal.jpegMeta(sos).isEmpty)
    // EOI before any SOF is a frameless file, and 0xFF fill bytes before
    // a marker are padding, not a segment with a bogus length
    val eoi = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xD9.toByte)
    assert(Multimodal.jpegMeta(eoi).isEmpty)
    val fill = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte) ++
      Array[Byte](0xFF.toByte, 0xC0.toByte, 0, 11, 8, 0, 9, 0, 17, 1, 0x11, 0, 0)
    assert(Multimodal.jpegMeta(fill) === Some((17, 9, 8, 1, false, false)))
  }
}
