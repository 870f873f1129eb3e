package graft.perfbench

import scala.util.Random

import graft.Tables
import graft.dedup.{Components, Dedup}
import graft.similarity.Bm25Store
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** `training_data`: one client runs serial cycles over a seeded corpus
  * with planted near-duplicate clusters. A cycle is MinHash-LSH dedup
  * plus connected components over the pair graph, then one
  * delete-and-repair step on a persisted BM25 index store; every cycle
  * is followed by a search of that store (the workload's read op). */
final class TrainingBench(spark: SparkSession, seed: Long, scratch: String)
    extends Workload with AdaptiveSparkPlanHelper {
  val name = "training_data"
  val primary = "cycle"
  val read = "search"
  val clients = 1
  val tailQ = 0.9
  override val warmPasses = 1
  // two cycles, each with its search: drift compares the second to the first
  override val minTimedOps = 4

  private val nDocs = 5000
  private val deletesPerCycle = 10
  private val corpusDir = s"$scratch/corpus"
  private val indexDir = s"$scratch/bm25"
  // the BM25 probes score docs 0-2 against the store; never delete them
  private val probes = Set(0L, 1L, 2L)

  private var planted: Set[(Long, Long)] = Set.empty
  private var deleteQueue: List[Long] = Nil
  private val deleted = scala.collection.mutable.Set[Long]()
  private val checksums = scala.collection.mutable.ArrayBuffer[Long]()
  private val problems = scala.collection.mutable.ArrayBuffer[String]()

  /** 5000 documents of 15-45 distinct words over a 3000-word vocabulary;
    * 300 planted clusters of 2-4 near-duplicates: the base's words
    * reshuffled, one of them repeated, and on bases of 40 words or more
    * at most one foreign word, so every planted pair has Jaccard ≥ 0.95. */
  private def corpus(): Seq[(Long, String)] = {
    val r = new Random(seed)
    val vocab = IndexedSeq.tabulate(3000)(i => s"w${Integer.toString(i * 7919 % 3000 + 1000, 36)}")
    def word() = vocab(math.min(vocab.size - 1, (-math.log(1 - r.nextDouble()) * 400).toInt))
    def base(): IndexedSeq[String] = {
      val n = 15 + r.nextInt(31)
      val s = scala.collection.mutable.LinkedHashSet[String]()
      while (s.size < n) s += word()
      s.toIndexedSeq
    }
    val ids = r.shuffle((0L until nDocs).toList).toIndexedSeq
    val texts = scala.collection.mutable.ArrayBuffer[IndexedSeq[String]]()
    val clusters = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    while (texts.size < nDocs) {
      val b = base()
      if (clusters.size < 300 && texts.size + 4 <= nDocs) {
        val k = 2 + r.nextInt(3)
        val members = (0 until k).map { j =>
          val extra =
            if (j == 0) Nil
            else b(r.nextInt(b.size)) +: (if (b.size >= 40 && r.nextBoolean()) Seq(s"x${seed}_${texts.size}") else Nil)
          texts += (if (j == 0) b else r.shuffle(b) ++ extra)
          texts.size - 1
        }
        clusters += members
      } else texts += b
    }
    planted = clusters.flatMap(m => for (a <- m; b <- m if a < b) yield {
      val (x, y) = (ids(a), ids(b)); (math.min(x, y), math.max(x, y))
    }).toSet
    texts.zipWithIndex.map { case (t, i) => (ids(i), t.mkString(" ")) }.toSeq
  }

  def setup(): Map[String, Double] = {
    val docs = corpus()
    spark.createDataFrame(docs).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$corpusDir/documents.parquet")
    Bm25Store.build(spark, Tables.documents(spark, corpusDir), indexDir)
    deleteQueue = new Random(seed + 1).shuffle(docs.map(_._1).filterNot(probes)).toList
    Map("training.docs" -> nDocs.toDouble, "training.planted_pairs" -> planted.size.toDouble)
  }

  private def cycle(): Long = {
    val docs = Tables.documents(spark, corpusDir)
    val idx = Trace.span("dedup.signatures")(Dedup.lshIndex(docs))
    val pairsDf = Dedup.pairsFromIndex(idx, docs.select(col("doc_id"), Dedup.tokens.as("toks")))
      .select("id_a", "id_b")
    val pairs = Trace.span("dedup.lsh") {
      pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    candidateCounters(pairsDf.queryExecution.executedPlan, pairs.length)
    val edges = spark.createDataFrame(pairs.toSeq).toDF("src", "dst")
    Trace.span("dedup.components")(Components.connectedComponents(edges).collect())
    val found = pairs.toSet
    val lost = planted.filterNot(found)
    if (lost.nonEmpty) problems += s"${lost.size} planted pairs not found, e.g. ${lost.head}"
    checksums += pairs.map { case (a, b) => a * 1000003L + b }.sorted
      .foldLeft(17L)((h, x) => h * 31L + x)

    val (del, rest) = deleteQueue.splitAt(deletesPerCycle)
    deleteQueue = rest
    Trace.span("index.delete")(Bm25Store.delete(spark, indexDir, docs.where(col("doc_id").isin(del: _*))))
    Counters.add("index.publishes", 1)
    deleted ++= del
    nDocs.toLong
  }

  private def search(): Long = {
    val hits = Trace.span("index.search")(Bm25Store.score(spark, corpusDir, indexDir).collect())
    val bad = hits.map(_.getAs[Long]("doc_id")).filter(deleted.contains)
    if (bad.nonEmpty) problems += s"search returned deleted docs ${bad.take(3).mkString(",")}"
    hits.length.toLong
  }

  /** Candidate pairs entering exact verification: the input rows of the
    * operator that applies the Jaccard threshold (a filter, or the join
    * the optimizer pushed it into). */
  private def candidateCounters(plan: SparkPlan, verified: Int): Unit =
    if (Option(Trace.current.get).exists(_.traced)) {
      def jaccard(e: Expression) = e.find(_.prettyName == "graft_jaccard").isDefined
      val inputs = collect(plan) {
        case f: FilterExec if jaccard(f.condition) => f.child
        case j: HashJoin if j.condition.exists(jaccard) =>
          if (j.buildSide == BuildRight) j.left else j.right
        case j: SortMergeJoinExec if j.condition.exists(jaccard) => j.left
      }
      def rowsIn(p: SparkPlan): Option[Double] =
        p.metrics.get("numOutputRows").map(_.value.toDouble)
          .orElse(p.children.headOption.flatMap(rowsIn))
      inputs.headOption.flatMap(rowsIn).foreach { c =>
        Counters.add("dedup.candidate_pairs", c)
        Counters.add("dedup.pair_precision", if (c > 0) verified / c else 0.0)
      }
    }

  /** Cycles, each followed by its search: the window never ends between
    * the two, so every run ends in the same store state. */
  private final class Cycles extends Client {
    private var n = 0
    def next(): (String, () => Long) = {
      n += 1
      if (n % 2 == 1) ("cycle", () => cycle()) else ("search", () => search())
    }
    override def atBoundary: Boolean = n % 2 == 0
  }

  /** A warm-up pass is one cycle and its search. */
  def warmPass(client: Int, pass: Int): Seq[(String, () => Long)] =
    Seq(("cycle", () => cycle()), ("search", () => search()))

  def timedClient(client: Int): Client = new Cycles

  def check(): (Boolean, Map[String, String]) = {
    val steadySum = checksums.distinct.size == 1
    if (!steadySum) problems += s"pair checksum changed between cycles: ${checksums.distinct.take(3)}"
    (problems.isEmpty && checksums.nonEmpty, Map(
      "training.pair_checksum" -> checksums.headOption.getOrElse(0L).toString,
      "training.cycles" -> checksums.size.toString,
      "training.deleted" -> deleted.size.toString) ++
      problems.take(5).zipWithIndex.map { case (p, i) => s"training.problem_$i" -> p })
  }

  def endCounters(window: Seq[OpRec], engine: OpRec => Map[String, Double]): Map[String, Double] =
    Map.empty
}
