package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.Models
import graft.pipelines.{BackgroundCuration, Captioning, FrameMining, VideoSlicing}
import graft.queries.{Registry, Tables}
import graft.sources.Sinks

/** What a run checks about one operation's output. */
sealed trait Check
/** Equal, as a multiset of rows, to the registered query's DuckDB oracle SQL. */
final case class Oracle(query: String) extends Check
/** ANN top-`k` recall against an exact cosine top-k must reach `floor`. */
final case class Recall(k: Int, floor: Double) extends Check
/** Every status row uploaded, and one object on disk per status row. */
final case class Uploaded(root: String) extends Check
/** The JSONL root reads back as many records as the passes wrote. */
final case class JsonlCount(root: String) extends Check

/** State shared by the operations of one pass. */
final class PassCtx(val spark: SparkSession, val inDir: String, val outDir: String,
                    val pass: Int) {
  val frames = mutable.Map.empty[String, DataFrame]
  /** Rows each earlier operation of this pass materialised. */
  val collected = mutable.Map.empty[String, Long]
  /** Records appended to each JSONL root by this pass. */
  val jsonlWritten = mutable.Map.empty[String, Long]
}

/** One operation of a pass: `build` makes the frame (and performs any
  * eager sink write); the runner then materialises it with `collect`. */
final case class Op(name: String, sink: Boolean, checks: Seq[Check],
                    build: PassCtx => Option[DataFrame])

object Workloads {

  private lazy val registered = Registry.all.map(q => q.name -> q).toMap

  /** A registered query, built through its `QueryDef`. */
  private def query(name: String, checks: Check*): Op = {
    val q = registered(name)
    Op(name, sink = false, if (checks.isEmpty) q.oracle.map(_ => Oracle(name)).toSeq else checks,
      c => Some(q.spark(c.spark, c.inDir)))
  }

  private def table(c: PassCtx, name: String) = Tables.table(c.spark, c.inDir, name)

  // ---- media_curation: E1–E4 through the pipeline classes, ending in sinks

  private def e1(c: PassCtx): Option[DataFrame] = Some(
    new VideoSlicing(Counting.videoTool(() => new Models.FakeVideoTool),
      segDur = 300.0, minDur = 60.0, outDir = s"${c.outDir}/pipeline_out")
      .runWithKnownDurations(Tables.manifestRanged(c.spark, c.inDir))
      .orderBy("video_id"))

  private def e2(c: PassCtx): Option[DataFrame] = {
    val input = table(c, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 2 === 0,
        format_string("[\"/imgs/a_%d.jpg\",\"/imgs/b_%d.jpg\"]", col("doc_id"), col("doc_id")))
        .otherwise(format_string("/imgs/a_%d.jpg", col("doc_id"))).as("input_images"),
      format_string("/out/img_%d.png", col("doc_id")).as("output_image"))
    val captions = new Captioning(
      Counting.captioner(() => new Models.FakeCaptioner))
      .run(input).select("doc_id", "caption", "record").localCheckpoint()
    c.frames("captions") = captions
    Some(captions.orderBy("doc_id"))
  }

  private def e2Jsonl(root: String)(c: PassCtx): Option[DataFrame] = {
    val captions = c.frames("captions")
    Sinks.appendJsonl(captions.select("doc_id", "record"), root)
    c.jsonlWritten(root) = c.collected("e2_captioning")
    None
  }

  private def frameMining = new FrameMining(
    Counting.person(() => new Models.Md5PersonDetector),
    Counting.face(() => new Models.Md5FaceDetector),
    Counting.quality(() => new Models.Md5FaceQualityScorer),
    Counting.embedder(() => new Models.Md5FaceEmbedder(refMaxFrame = 300L)),
    modelKeyPrefix = "graft-md5")

  /** `FrameMining.run` spelled out through its public phases, so the
    * checkpointed refs and selection can also feed the pair sink. */
  private def e3(c: PassCtx): Option[DataFrame] = {
    val manifest = table(c, "events").select(col("event_id").as("video_id"))
      .filter(col("video_id") % 200 === 0)
      .withColumn("total_frames", lit(3010L))
    val fm = frameMining
    val refs = fm.mineRefs(manifest).localCheckpoint()
    val selected = fm.mineCandidates(manifest, refs)
      .join(refs.select("video_id", "n_refs").distinct(), "video_id")
      .localCheckpoint()
    c.frames("refs") = refs
    c.frames("selected") = selected
    Some(selected.orderBy("video_id", "frame_idx"))
  }

  private def e3Sink(objects: String, jsonl: String)(c: PassCtx): Option[DataFrame] = {
    val selected = c.frames("selected")
    val status = frameMining.sinkPairs(selected, c.frames("refs"),
      new Counting.Store(new Sinks.LocalFsStore(objects)), jsonl)
    c.jsonlWritten(jsonl) = c.collected("e3_frame_mining")
    Some(status)
  }

  private def bgPipeline(objects: String) = new BackgroundCuration(
    Counting.person(() => new Models.Md5PersonDetector),
    Counting.face(() => new Models.Md5FaceDetector),
    Counting.masker(() => new Models.Md5GroundingMasker),
    Counting.matting(() => new Models.FakeMatting),
    Counting.relighter(() => new Models.FakeRelighter),
    new Counting.Store(new Sinks.LocalFsStore(objects)),
    modelKeyPrefix = "graft-md5")

  /** `BackgroundCuration.run` spelled out, keeping the per-box frame for
    * `saveOutputs`; the frame is checkpointed so inference runs once. */
  private def e4(objects: String)(c: PassCtx): Option[DataFrame] = {
    val images = table(c, "part").select(
      col("p_partkey").as("image_id"),
      format_string("/imgs/part_%d.jpg", col("p_partkey")).as("image_path"),
      (lit(400L) + (col("p_partkey") * 37) % 1200).as("h"),
      (lit(600L) + (col("p_partkey") * 53) % 1600).as("w"))
    val pipe = bgPipeline(objects)
    val gated = pipe.boxGates(pipe.detect(pipe.resolutionGate(images.withColumn("tag", lit("in")))))
      .localCheckpoint()
    val perBox = pipe.withSavePaths(pipe.modelStage(pipe.explodeBoxes(gated))).localCheckpoint()
    c.frames("per_box") = perBox
    Some(pipe.personsOf(gated, perBox)
      .select("image_id", "h", "w", "max_area", "area_ratio", "n_persons")
      .orderBy("image_id"))
  }

  private def e4Sink(objects: String)(c: PassCtx): Option[DataFrame] =
    Some(bgPipeline(objects).saveOutputs(c.frames("per_box")))

  private def media(out: String): Seq[Op] = {
    val (e2Root, e3Objects, e3Root, e4Objects) =
      (s"$out/captions_jsonl", s"$out/pair_objects", s"$out/pairs_jsonl", s"$out/bg_objects")
    Seq(
      Op("e1_video_slicing", sink = false, Seq(Oracle("pipeline_e1_summary")), e1),
      Op("e2_captioning", sink = false, Seq(Oracle("pipeline_caption")), e2),
      Op("e2_append_jsonl", sink = true, Seq(JsonlCount(e2Root)), e2Jsonl(e2Root)),
      Op("e3_frame_mining", sink = false, Seq(Oracle("pipeline_frame_mining_oracle")), e3),
      Op("e3_sink_pairs", sink = true, Seq(Uploaded(e3Objects), JsonlCount(e3Root)),
        e3Sink(e3Objects, e3Root)),
      Op("e4_bg_curation", sink = false, Seq(Oracle("pipeline_bg_curation_oracle")), e4(e4Objects)),
      Op("e4_save_outputs", sink = true, Seq(Uploaded(e4Objects)), e4Sink(e4Objects)))
  }

  // ---- text_dedup_search: native kernels, bucketed self-joins, shuffles

  private val textOps = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "cosine_topk", "semdedup")
    .map(query(_)) :+ query("ann_ivf_topk", Recall(5, 0.8))

  // ---- iterative_training: many rounds of small plans

  private val iterativeOps = Seq(
    "bpe_train_oracle", "wordpiece_train_fertility", "unigram_train_fertility",
    "link_pagerank", "hits_scores").map(query(_))

  def apply(name: String, outDir: String): Seq[Op] = name match {
    case "media_curation" => media(outDir)
    case "text_dedup_search" => textOps
    case "iterative_training" => iterativeOps
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
