package perfbench

import java.util.concurrent.atomic.LongAdder

import graft.ml.Models
import graft.ml.Models.Box
import graft.sources.Sinks

/** Counting and timing decorators for the models and the object store the
  * media pipelines are handed. Tasks run in the driver JVM (local master),
  * so the counters are JVM-global adders: a decorator is serialized into
  * each task, and a per-instance field would count in a copy. */
object Counting {
  val modelInits, inferCalls, inferRows, inferNs = new LongAdder
  val objectsWritten, objectBytes = new LongAdder

  def snapshot(): Map[String, Long] = Map(
    "model_inits" -> modelInits.sum, "infer_calls" -> inferCalls.sum,
    "infer_rows" -> inferRows.sum, "infer_ns" -> inferNs.sum,
    "objects_written" -> objectsWritten.sum, "object_bytes" -> objectBytes.sum)

  /** One model call over `rows` items. */
  def infer[T](rows: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      inferNs.add(System.nanoTime() - t0); inferCalls.increment(); inferRows.add(rows)
    }
  }

  /** A factory that counts each model it builds and wraps it. */
  private def counted[M](make: () => M)(wrap: M => M): () => M = () => {
    modelInits.increment(); wrap(make())
  }

  def videoTool(m: () => Models.VideoTool) = counted(m)(new VideoTool(_))
  def captioner(m: () => Models.Captioner) = counted(m)(new Captioner(_))
  def person(m: () => Models.PersonDetector) = counted(m)(new PersonDetector(_))
  def face(m: () => Models.FaceDetector) = counted(m)(new FaceDetector(_))
  def quality(m: () => Models.FaceQualityScorer) = counted(m)(new FaceQualityScorer(_))
  def embedder(m: () => Models.FaceEmbedder) = counted(m)(new FaceEmbedder(_))
  def masker(m: () => Models.GroundingMasker) = counted(m)(new GroundingMasker(_))
  def matting(m: () => Models.Matting) = counted(m)(new Matting(_))
  def relighter(m: () => Models.Relighter) = counted(m)(new Relighter(_))

  final class VideoTool(m: Models.VideoTool) extends Models.VideoTool {
    def probe(path: String) = infer(1)(m.probe(path))
    def cut(src: String, dst: String, startSec: Double, durSec: Double, attempt: Int) =
      infer(1)(m.cut(src, dst, startSec, durSec, attempt))
  }

  final class Captioner(m: Models.Captioner) extends Models.Captioner {
    def caption(prompt: String, imagePaths: Seq[String]) = infer(1)(m.caption(prompt, imagePaths))
    override def captionBatch(batch: Seq[(String, Seq[String])]) =
      infer(batch.size)(m.captionBatch(batch))
  }

  final class PersonDetector(m: Models.PersonDetector) extends Models.PersonDetector {
    def detect(videoId: Long, frameIdx: Long) = infer(1)(m.detect(videoId, frameIdx))
    override def detectBatch(items: Seq[(Long, Long)]) = infer(items.size)(m.detectBatch(items))
  }

  final class FaceDetector(m: Models.FaceDetector) extends Models.FaceDetector {
    def detect(videoId: Long, frameIdx: Long, slot: Int) = infer(1)(m.detect(videoId, frameIdx, slot))
    override def detectBatch(items: Seq[(Long, Long, Int)]) = infer(items.size)(m.detectBatch(items))
  }

  final class FaceQualityScorer(m: Models.FaceQualityScorer) extends Models.FaceQualityScorer {
    def score(videoId: Long, frameIdx: Long, slot: Int) = infer(1)(m.score(videoId, frameIdx, slot))
    override def scoreBatch(items: Seq[(Long, Long, Int)]) = infer(items.size)(m.scoreBatch(items))
  }

  final class FaceEmbedder(m: Models.FaceEmbedder) extends Models.FaceEmbedder {
    def embed(videoId: Long, frameIdx: Long, slot: Int) = infer(1)(m.embed(videoId, frameIdx, slot))
    override def embedBatch(items: Seq[(Long, Long, Int)]) = infer(items.size)(m.embedBatch(items))
  }

  final class GroundingMasker(m: Models.GroundingMasker) extends Models.GroundingMasker {
    def maskRect(imageId: Long, box: Box, h: Long, w: Long) = infer(1)(m.maskRect(imageId, box, h, w))
    override def maskRectBatch(items: Seq[(Long, Box, Long, Long)]) =
      infer(items.size)(m.maskRectBatch(items))
  }

  final class Matting(m: Models.Matting) extends Models.Matting {
    def removeBackground(imageId: Long, boxIdx: Int) = infer(1)(m.removeBackground(imageId, boxIdx))
    override def removeBackgroundBatch(items: Seq[(Long, Int)]) =
      infer(items.size)(m.removeBackgroundBatch(items))
  }

  final class Relighter(m: Models.Relighter) extends Models.Relighter {
    def relight(imageId: Long, boxIdx: Int) = infer(1)(m.relight(imageId, boxIdx))
    override def relightBatch(items: Seq[(Long, Int)]) = infer(items.size)(m.relightBatch(items))
  }

  final class Store(m: Sinks.ObjectStore) extends Sinks.ObjectStore {
    def put(key: String, bytes: Array[Byte]): Unit = {
      m.put(key, bytes); objectsWritten.increment(); objectBytes.add(bytes.length)
    }
  }
}
