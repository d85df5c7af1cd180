package graft.perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same bytes. */
object Gen {

  /** A follower graph as sorted distinct `src * n + dst` codes. */
  final case class Graph(n: Long, codes: Array[Long]) {
    def edges: Int = codes.length
    def src(i: Int): Long = codes(i) / n
    def dst(i: Int): Long = codes(i) % n
    /** The reference's MAX census: edges with `src < max AND dst < max`. */
    def census(max: Long): Long = codes.count(c => c / n < max && c % n < max).toLong
    /** Share of edges whose reverse edge is also present. */
    def reciprocalShare: Double = {
      val r = codes.count(c => java.util.Arrays.binarySearch(codes, (c % n) * n + c / n) >= 0)
      r.toDouble / math.max(1, codes.length)
    }
  }

  /** Power-law in-degree with celebrity hubs at the lowest ids (dst =
    * floor(n * u^3), so the in-degree of id i falls as i^(-2/3) and the
    * reference's MAX filter keeps the hubs). Followers are uniform.
    * Ordinary users follow back with probability `followBack`; the top
    * 1% of ids, the celebrities, never do. Follows are a set: self-loops
    * are dropped and duplicates collapse. */
  def followerGraph(seed: Long, n: Int, avgOut: Int, followBack: Double): Graph = {
    val rng = new SplittableRandom(seed)
    val base = n.toLong * avgOut
    val buf = new Array[Long]((base * (1 + followBack)).toInt + 16)
    var k = 0
    var i = 0L
    val celeb = n / 100
    while (i < base) {
      val u = rng.nextDouble()
      val dst = math.min(n - 1, (n * u * u * u).toLong)
      val src = rng.nextInt(n).toLong
      if (src != dst) {
        buf(k) = src * n + dst; k += 1
        if (dst >= celeb && rng.nextDouble() < followBack) { buf(k) = dst * n + src; k += 1 }
      }
      i += 1
    }
    val sorted = java.util.Arrays.copyOf(buf, k)
    java.util.Arrays.sort(sorted)
    Graph(n, dedupSorted(sorted))
  }

  private def dedupSorted(a: Array[Long]): Array[Long] = {
    if (a.isEmpty) return a
    var w = 1
    var r = 1
    while (r < a.length) {
      if (a(r) != a(w - 1)) { a(w) = a(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(a, w)
  }

  /** Writes headerless `src,dst` lines as `parts` files, like the part
    * files of a MapReduce job's input directory. Returns bytes written. */
  def writeCsv(g: Graph, dir: File, parts: Int): Long = {
    dir.mkdirs()
    // shuffle the row order so no part file holds only the hubs' rows
    val order = Array.range(0, g.edges)
    val rng = new SplittableRandom(g.edges.toLong * 31 + g.n)
    for (i <- order.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val per = (order.length + parts - 1) / parts
    (0 until parts).map { p =>
      val f = new File(dir, f"part-$p%05d.csv")
      val w = new BufferedWriter(new FileWriter(f), 1 << 16)
      try {
        for (i <- p * per until math.min(order.length, (p + 1) * per)) {
          w.write(g.src(order(i)).toString); w.write(','); w.write(g.dst(order(i)).toString); w.write('\n')
        }
      } finally w.close()
      f.length()
    }.sum
  }

  private val Words = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de") // en ~ 40%

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Documents with the schema and shape of the repo's `documents`
    * fixture: 20 sources, 10-100 words from a 30-word vocabulary, one
    * in twenty a near-duplicate of an earlier document (its text plus
    * " dup"). */
  def documents(seed: Long, n: Int): IndexedSeq[Row] = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val t =
        if (i > 20 && rng.nextInt(20) == 0) texts(rng.nextInt(i)) + " dup"
        else Array.fill(10 + rng.nextInt(91))(Words(rng.nextInt(Words.length))).mkString(" ")
      texts(i) = t
      Row(i.toLong, t, Langs(rng.nextInt(Langs.length)), s"src${i % 20}", t.length.toLong)
    }
  }

  /** The nightly split: the seed picks about a tenth of the documents
    * as tonight's shard; the rest is the persisted corpus. */
  def isShard(seed: Long, docId: Long): Boolean =
    new SplittableRandom(seed * 1000003L + docId).nextInt(10) == 0

  /** Writes rows as one parquet directory and returns its bytes. */
  def writeParquet(spark: SparkSession, rows: Seq[Row], dir: File, files: Int): Long = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), DocSchema)
      .write.mode("overwrite").parquet(dir.getPath)
    Files.bytes(dir)
  }
}

object Files {
  def walk(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles()).toSeq.flatten.flatMap(walk)

  def bytes(dir: File): Long = walk(dir).map(_.length()).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** (size, mtime) of every file under `dir`, keyed by path. */
  def snapshot(dir: File): Map[String, (Long, Long)] =
    walk(dir).map(f => f.getPath -> (f.length(), f.lastModified())).toMap

  /** Files that are new or changed between two snapshots, and their bytes. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Int, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size, changed.values.map(_._1).sum)
  }
}
