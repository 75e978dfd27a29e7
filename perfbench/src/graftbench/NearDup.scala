package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `near_dup`: training-data curation. A doc corpus with planted
  * near-duplicate clusters (near-copies with a few words replaced); one
  * job finds near-duplicate pairs with `MinHashLSH.nearDuplicates`,
  * clusters them with `ConnectedComponents.labels`, keeps the lowest id
  * per cluster and writes the kept docs as parquet.
  */
final class NearDupWorkload(o: Opts) extends Workload {
  private val g = new Gen(o.seed, o.knobs)
  private val dupShare = g.dbl("dup_share", 0.2)
  private val clusterMin = g.int("cluster_min", 2)
  private val clusterMax = g.int("cluster_max", 5)
  private val vocabSkew = g.dbl("vocab_skew", 0.8)
  g.checkKnobs("near_dup")
  require(0 <= dupShare && dupShare < 1 && 2 <= clusterMin && clusterMin <= clusterMax,
    "need 0 <= dup_share < 1 and 2 <= cluster_min <= cluster_max")
  private val nDocs = 3000
  private val docWords = 60
  private val edits = 1
  private val vocabN = 20000
  // the check's thresholds: pairs at Jaccard >= tau, planted-pair recall
  private val tau = 0.7
  private val recallFloor = 0.95
  private val n = 3

  private val dir = s"${o.work}/near_dup"
  private val docsPath = s"$dir/docs.parquet"
  private def pairsPath(i: Int) = s"$dir/pairs-$i"
  private def keptPath(i: Int) = s"$dir/kept-$i"

  private var shingles = Array.empty[Set[String]]
  private var planted = Set.empty[(Long, Long)]

  def prepare(spark: SparkSession): Unit = {
    val vocab = g.vocabulary(vocabN)
    val zw = new Zipf(vocabN, vocabSkew)
    def word() = vocab(zw.sample(g.nextDouble()))
    // a slot opens a cluster with the probability that makes `dupShare`
    // of all docs cluster members
    val meanSize = (clusterMin + clusterMax) / 2.0
    val pCluster = dupShare / (meanSize * (1 - dupShare) + dupShare)
    val texts = mutable.ArrayBuffer.empty[String]
    val clusters = mutable.ArrayBuffer.empty[Range]
    while (texts.size < nDocs) {
      val orig = Array.fill(docWords)(word())
      if (g.nextDouble() < pCluster) {
        val size = math.min(nDocs - texts.size,
          clusterMin + g.nextInt(clusterMax - clusterMin + 1))
        val first = texts.size
        texts += orig.mkString(" ")
        (1 until size).foreach { _ =>
          val copy = orig.clone()
          (0 until edits).foreach(_ => copy(g.nextInt(docWords)) = word())
          texts += copy.mkString(" ")
        }
        clusters += (first until texts.size)
      } else texts += orig.mkString(" ")
    }
    shingles = texts.map(Text.ngrams(_, n)).toArray
    planted = clusters.iterator.flatMap(c => for (a <- c; b <- c if a < b) yield (a.toLong, b.toLong))
      .filter { case (a, b) => Text.round4(Text.jaccard(shingles(a.toInt), shingles(b.toInt))) >= tau }
      .toSet
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq.toDF("id", "text")
      .write.parquet(docsPath)
  }

  def setup(spark: SparkSession, round: Int, t: Spans): Unit = ()

  def job(spark: SparkSession, i: Int, t: Spans): Unit = {
    val docs = spark.read.parquet(docsPath)
    t.timed("MinHashLSH.nearDuplicates", "dedup", "dedup.pairs_s") {
      graft.dedup.MinHashLSH.nearDuplicates(docs, "id", "text", n, tau)
        .write.parquet(pairsPath(i))
    }
    val labels = t.timed("ConnectedComponents.labels", "dedup", "dedup.cc_s") {
      graft.dedup.ConnectedComponents.labels(spark.read.parquet(pairsPath(i)))
    }
    t.timed("keep.write", "dedup", "dedup.keep_s") {
      docs.join(labels.filter(col("id") =!= col("label")).select("id"), Seq("id"), "left_anti")
        .write.parquet(keptPath(i))
    }
  }

  def check(spark: SparkSession, i: Int, t: Spans): Option[String] =
    try {
      val rows = spark.read.parquet(pairsPath(i)).select("id_a", "id_b", "jaccard").collect()
      t.count("dedup.verified_pairs", rows.length)
      t.count("dedup.cc_edges", rows.length)
      val badPair = rows.find { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        val jj = Text.round4(Text.jaccard(shingles(a.toInt), shingles(b.toInt)))
        a >= b || jj != j || jj < tau
      }
      val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = if (planted.isEmpty) 1.0 else planted.count(found).toDouble / planted.size
      // kept = docs − Σ (cluster size − 1), clusters by union-find here
      val parent = mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      found.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val merged = parent.keys.toSeq.count(k => find(k) != k)
      val wantKept = nDocs - merged
      val kept = spark.read.parquet(keptPath(i)).count()
      badPair.map(r => s"pair $r fails the recomputed Jaccard >= $tau")
        .orElse(if (recall < recallFloor) Some(f"planted-pair recall $recall%.4f < $recallFloor") else None)
        .orElse(if (kept != wantKept) Some(s"kept $kept docs, want $wantKept") else None)
    } finally { Disk.delete(pairsPath(i)); Disk.delete(keptPath(i)) }

  override def inputPath: Option[String] = Some(docsPath)
}
