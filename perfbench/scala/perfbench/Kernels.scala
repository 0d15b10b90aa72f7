package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

/** The kernel layer: each native expression of `GraftFunctions.names`
  * timed per input row, through the public function that chooses it,
  * once in a session with the natives registered and once in a session
  * without them (the declarative fallback). Inputs are the columns
  * text_dedup_search feeds the kernels — document text, its token and
  * sorted token-hash arrays, and embedding pairs — cached before timing. */
object Kernels {

  private val Reps = 5

  /** One full evaluation of `df`, digested to a single row. */
  private def digest(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    named.agg(bit_xor(xxhash64(named.columns.map(col): _*)))
  }

  private def timeNs(agg: DataFrame): Double = {
    val t0 = System.nanoTime()
    agg.collect() // bounded: one row
    (System.nanoTime() - t0).toDouble
  }

  /** Kernel name → (digest frame, input rows), built in session `s`, whose
    * registered functions decide which path each public function takes. */
  private def kernels(s: SparkSession, inDir: String): Map[String, (DataFrame, Long)] = {
    SparkSession.setActiveSession(s)
    val docs = s.read.parquet(s"$inDir/documents.parquet")
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("tokens"))
      .withColumn("hashes", array_sort(array_distinct(transform(col("tokens"), t => xxhash64(t)))))
      .cache()
    val probes = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("pid"), col("hashes").as("phashes"))
    val docPairs = docs.crossJoin(probes).cache()
    val emb = s.read.parquet(s"$inDir/embeddings.parquet").select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val vecPairs = queries.crossJoin(emb).cache()
    val scored = vecPairs.select(col("qid"), col("vec_id"),
      Similarity.cosine(col("qvec"), col("embedding")).as("sim")).cache()
    val (nDocs, nDocPairs, nVecPairs) = (docs.count(), docPairs.count(), scored.count())
    val native = graft.plans.GraftFunctions.nativeAvailable
    Map(
      "graft_cosine" -> (vecPairs.select(Similarity.cosine(col("qvec"), col("embedding"))), nVecPairs),
      "graft_simhash" -> (Dedup.simhash64(docs, "doc_id", col("tokens")), nDocs),
      "graft_sorted_intersect_count" ->
        (docPairs.select(Dedup.sortedIntersectCount(col("hashes"), col("phashes"))), nDocPairs),
      "graft_fingerprint" -> (docs.select(TextFunctions.fingerprint(col("text"))), nDocs),
      "graft_topk" -> (Similarity.rankTopK(scored, 5), nVecPairs)
    ).map { case (name, (df, rows)) =>
      val natives = df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.count(_.find(_.getClass.getName.startsWith("graft.plans.")).isDefined)
      }.sum
      require((natives > 0) == native,
        s"$name: expected the ${if (native) "native" else "fallback"} path")
      name -> (digest(df), rows)
    }
  }

  /** Kernel name → (native ns/row, fallback ns/row): each the median of
    * `Reps` timings, native and fallback alternating, after one warm-up. */
  def measure(spark: SparkSession, inDir: String): Map[String, (Double, Double)] = {
    val native = kernels(spark, inDir)
    val fallback = kernels(spark.newSession(), inDir) // no graft functions: the fallbacks run
    SparkSession.setActiveSession(spark)
    require(native.keySet == graft.plans.GraftFunctions.names.toSet,
      s"kernel set ${native.keySet} differs from GraftFunctions.names")
    native.map { case (name, (n, rows)) =>
      val f = fallback(name)._1
      timeNs(n); timeNs(f)
      val ts = (1 to Reps).map(_ => (timeNs(n), timeNs(f)))
      def med(xs: Seq[Double]) = xs.sorted.apply(Reps / 2) / rows
      name -> (med(ts.map(_._1)), med(ts.map(_._2)))
    }
  }
}
