package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.streaming.DocStreams

/** `llm-curation`: the LLM-data operators on a generated corpus.
  *
  * One cycle is a batch phase (MinHash pairs → connected components, SimHash
  * pairs, an auto-sized IVF index → re-assignment and self top-k, TF-IDF top
  * terms, repetition stats) followed by an incremental phase (ticks that
  * append a batch to the MinHash store and the IVF index) and one replay of
  * both document streams. Each cycle writes into fresh directories. */
final class Curation(inputs: String, work: String) extends Workload {
  val TicksPerCycle = 4
  val TickPool = 8
  val Threshold = 0.5
  val K = 10
  val NProbe = 6
  private var nextTick = 0
  private var spark: SparkSession = _
  private def docs = spark.read.parquet(s"$inputs/docs.parquet")
  private def vectors = spark.read.parquet(s"$inputs/vectors.parquet")
  private def tickDocs(t: Int) = spark.read.parquet(f"$inputs/ticks/docs-$t%03d.parquet")
  private def tickVecs(t: Int) = spark.read.parquet(f"$inputs/ticks/vecs-$t%03d.parquet")
  private var centroids = 0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def prepare(s: SparkSession, rep: Int): Unit = {
    spark = s
    docs.count(); vectors.count()
  }

  private def cycle(h: Harness, tag: String): Boolean = {
    if (nextTick + TicksPerCycle > TickPool) return false
    val dir = s"$work/curation/$tag"
    val out = s"${h.outDir}/curation/$tag"
    val ivf = s"$dir/ivf"
    h.call("phase.batch") {
      h.must("operators.Dedup.minHashPairs") {
        Dedup.minHashPairs(docs, "doc_id", "text", Threshold, shingleN = 3)
          .select("d1", "d2").write.parquet(s"$out/pairs")
      }
      h.must("operators.Dedup.connectedComponents") {
        noop(Dedup.connectedComponents(spark.read.parquet(s"$out/pairs")))
      }
      h.must("operators.Dedup.simHashPairs") {
        Dedup.simHashPairs(docs, "doc_id", "text").select("d1", "d2").write.parquet(s"$out/simpairs")
      }
      val (_, k) = h.must("operators.Similarity.ensureIvfIndex") {
        Similarity.ensureIvfIndexSized(spark, ivf, vectors, "vec_id", "embedding",
          n => Similarity.autoCentroids(n))
      }
      centroids = k
      h.must("operators.Similarity.assignCells") {
        noop(Similarity.assignCells(vectors, "vec_id", "embedding",
          Similarity.loadIvfIndex(spark, ivf).centroids))
      }
      h.must("operators.Similarity.ivfSelfTopK") {
        Similarity.ivfSelfTopK(Similarity.loadIvfIndex(spark, ivf), K, NProbe)
          .select("qid", "nid", "rn").write.parquet(s"$out/knn")
      }
      h.must("operators.TextAnalysis.tfIdfTopTerms") {
        noop(TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", 5))
      }
      h.must("operators.TextAnalysis.repetitionStats") {
        noop(TextAnalysis.repetitionStats(docs, "doc_id", "text"))
      }
    }
    val tracedCycle = h.traced
    (0 until TicksPerCycle).foreach { i =>
      val t = nextTick; nextTick += 1
      // a traced cycle traces every other tick, so traced and untraced
      // appends interleave and their gap is the trace overhead; the first
      // tick of a cycle starts the store and is labelled apart
      if (tracedCycle) h.setTraced(i % 2 == 1)
      val label = if (i == 0) "first" else ""
      h.call("tick", t.toString) {
        h.must("operators.Dedup.appendToMinHashStore", label) {
          Dedup.appendToMinHashStore(tickDocs(t), "doc_id", "text", s"$dir/mhstore")
        }
        h.must("operators.Similarity.appendToIvfIndex", label) {
          Similarity.appendToIvfIndex(spark, ivf, tickVecs(t), "vec_id", "embedding")
        }
      }
    }
    if (tracedCycle) h.setTraced(true)
    h.call("streaming.DocStreams.minHashStoreStream") {
      DocStreams.minHashStoreStream(spark, s"$inputs/stream_docs", s"$dir/mhstream", s"$dir/ck-mh")
    }
    h.call("streaming.DocStreams.ivfIndexStream") {
      DocStreams.ivfIndexStream(spark, s"$inputs/stream_vecs", ivf, s"$dir/ck-ivf")
    }
    true
  }

  /** No warm-up: a curation pipeline runs as a batch job on a fresh session,
    * so the first cycle's code generation and JIT are what a user pays, and
    * a warm-up cycle would not fit the run budget (a cycle costs ~30 s on a
    * 4-core host whatever the input size: planning, job and file-commit
    * overhead dominate). */
  def warmup(h: Harness): Unit = ()

  /** Exactly one cycle, the cold one, whatever `seconds` is (it lasts
    * longer than the benchmark's window); a traced run adds one traced warm
    * cycle. */
  def measure(h: Harness, seconds: Double, trace: Boolean): Unit = {
    val n = if (trace) 2 else 1
    h.loop(seconds, trace, minCycles = n, round = 1, maxCycles = n) { c => cycle(h, s"c$c") }
  }

  def finish(h: Harness, trace: Boolean): collection.Map[String, Any] = {
    val facts = scala.collection.mutable.LinkedHashMap[String, Any](
      "centroids" -> centroids,
      "threshold" -> Threshold, "k" -> K, "nprobe" -> NProbe, "ticks_per_cycle" -> TicksPerCycle)
    if (trace) {
      // candidate fan-out of the exact-Jaccard path, for the traced record only
      val cand = Dedup.jaccardCandidates(docs, "doc_id", "text", 3, 1000).count()
      val pairs = spark.read.parquet(s"${h.outDir}/curation/c0/pairs").count()
      facts("jaccard_candidates") = cand
      facts("candidates_per_pair") = cand.toDouble / math.max(1L, pairs)
    }
    facts
  }
}
