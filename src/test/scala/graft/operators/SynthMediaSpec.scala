package graft.operators

import graft.SparkSpec

/** Pins the identity contract of [[SynthMedia]] — the property the
  * q102/q192/q193 closed-form oracles ride (r10 ADVICE: the previous
  * two-residue generators repeated at periods 5963 / 60491, below the
  * benched supplier/customer key ranges, so a query's twin tied at
  * cosine 1.0 with a bit-identical lower-id duplicate and the top-1
  * tie-break diverged from the SQL oracle).
  *
  *  - payload + embedding distinctness across the OLD collision
  *    periods (the exact regression);
  *  - embedding distinctness sweeps over contiguous id ranges (the
  *    in-suite slice; the full sf10 ranges — 100k suppliers, 1.5M
  *    customers — were swept out of suite, all distinct, as recorded
  *    in ROUND11.md);
  *  - metadata-only re-encode twins keep BIT-IDENTICAL embeddings
  *    (the other half of the oracle argument).
  */
/** Clip/key kernels live on an OBJECT so the distributed sweeps'
  * closures reference the module statically instead of capturing the
  * (non-serializable) spec instance.
  */
object SynthMediaSpecFns {
  import Multimodal.MediaCodec

  def audioClip(id: Long): Array[Byte] =
    MediaCodec.wavEncode(16000, SynthMedia.audioSamples(id))
  def videoClip(id: Long, usPerFrame: Int = 40000): Array[Byte] =
    AviCodec.aviEncode(24, 16, usPerFrame, 6,
      (f, x, y) => SynthMedia.videoPixel(id, f, x, y))
  def imageBytes(id: Long): Array[Byte] =
    MediaCodec.bmpEncode(24, 16, (x, y) => SynthMedia.imagePixel(id, x, y))

  def key(e: Array[Float]): String = {
    val bb = java.nio.ByteBuffer.allocate(e.length * 4)
    e.foreach(bb.putFloat)
    java.util.Base64.getEncoder.encodeToString(bb.array)
  }

  def audioKey(id: Long): String =
    key(MediaCodec.audioEmbedding(audioClip(id)).get)
  def videoKey(id: Long): String =
    key(MediaCodec.videoEmbedding(videoClip(id)).get)
  def imageKey(id: Long): String =
    key(MediaCodec.imageEmbedding(imageBytes(id)).get)
}

class SynthMediaSpec extends SparkSpec {
  import spark.implicits._
  import Multimodal.MediaCodec
  import SynthMediaSpecFns._

  test("old collision periods are gone: payloads AND embeddings differ") {
    for (id <- Seq(1L, 17L, 4242L)) {
      // audio repeated at 89*67 = 5963 in r10
      val (a1, a2) = (audioClip(id), audioClip(id + 5963L))
      assert(!java.util.Arrays.equals(a1, a2), s"audio clip $id repeats")
      assert(key(MediaCodec.audioEmbedding(a1).get) !=
        key(MediaCodec.audioEmbedding(a2).get), s"audio embedding $id repeats")
      // pixels repeated at 251*241 = 60491 in r10
      val (v1, v2) = (videoClip(id), videoClip(id + 60491L))
      assert(!java.util.Arrays.equals(v1, v2), s"video clip $id repeats")
      assert(key(MediaCodec.videoEmbedding(v1).get) !=
        key(MediaCodec.videoEmbedding(v2).get), s"video embedding $id repeats")
      val (i1, i2) = (imageBytes(id), imageBytes(id + 60491L))
      assert(!java.util.Arrays.equals(i1, i2), s"image $id repeats")
      assert(key(MediaCodec.imageEmbedding(i1).get) !=
        key(MediaCodec.imageEmbedding(i2).get), s"image embedding $id repeats")
    }
  }

  test("audio embeddings are pairwise distinct over a contiguous id range") {
    val n = 20000L // covers sf1's 10k suppliers; ROUND11.md records sf10
    val cnt = spark.range(1L, n + 1).as[Long]
      .map(SynthMediaSpecFns.audioKey _)
      .distinct().count()
    assert(cnt == n, s"expected $n distinct audio embeddings, got $cnt")
  }

  test("video embeddings are pairwise distinct over a contiguous id range") {
    val n = 12000L
    val cnt = spark.range(1L, n + 1).as[Long]
      .map(SynthMediaSpecFns.videoKey _)
      .distinct().count()
    assert(cnt == n, s"expected $n distinct video embeddings, got $cnt")
  }

  test("image embeddings are pairwise distinct over a contiguous id range") {
    val n = 30000L
    val cnt = spark.range(1L, n + 1).as[Long]
      .map(SynthMediaSpecFns.imageKey _)
      .distinct().count()
    assert(cnt == n, s"expected $n distinct image embeddings, got $cnt")
  }

  test("metadata-only re-encodes keep bit-identical embeddings") {
    for (id <- Seq(3L, 70000L, 1499999L)) {
      assert(key(MediaCodec.audioEmbedding(audioClip(id)).get) ==
        key(MediaCodec.audioEmbedding(
          MediaCodec.wavWithComment(audioClip(id), "re-encode")).get))
      // fps header change, identical frame pixels (the q193 twin)
      assert(key(MediaCodec.videoEmbedding(videoClip(id, 40000)).get) ==
        key(MediaCodec.videoEmbedding(videoClip(id, 20000)).get))
      // lossless BMP -> PNG re-encode (the q102 twin)
      assert(key(MediaCodec.imageEmbedding(imageBytes(id)).get) ==
        key(MediaCodec.imageEmbedding(MediaCodec.pngEncode(24, 16,
          (x, y) => SynthMedia.imagePixel(id, x, y))).get))
    }
  }
}
