package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.expr._

/** Single-threaded micro-workload over the public `graft.expr` kernel
  * functions: the per-row work the text-dedup queries run inside codegen,
  * timed without Spark around it.
  *
  * Inputs are the documents' text and the embeddings, collected once. The
  * seed shuffles the row order of every repetition; the checksum of each
  * kernel's outputs is an order-free sum, so it is the same for every
  * seed and is compared with the pinned value, which also keeps the JIT
  * from dropping the work. Results are named by kernel, not by class.
  */
object Kernels {

  final case class Result(name: String, nsPerItem: Double, checksum: Long)

  private def arrHash(a: ArrayData): Long = {
    var h = a.numElements().toLong
    var i = 0
    while (i < a.numElements()) {
      h = h * 31 + (if (a.isNullAt(i)) 0L else a.get(i, null) match {
        case u: UTF8String => u.hashCode.toLong
        case l: java.lang.Long => l.longValue
        case r: org.apache.spark.sql.catalyst.InternalRow =>
          (0 until r.numFields).map(j => r.getLong(j)).foldLeft(17L)(_ * 31 + _)
        case other => other.hashCode.toLong
      })
      i += 1
    }
    h
  }

  /** Times `f` over `n` items: two untimed warm-up repetitions, then at
    * least `minReps` timed ones and until `minMs` have passed. Reports
    * the median repetition per item and the first repetition's checksum.
    */
  private def time(name: String, n: Int, seed: Long, minReps: Int = 5,
                   minMs: Double = 150)(f: Int => Long): Result = {
    val rnd = new java.util.Random(seed)
    def order(): Array[Int] = {
      val o = Array.tabulate(n)(identity)
      var i = n - 1
      while (i > 0) { val j = rnd.nextInt(i + 1); val t = o(i); o(i) = o(j); o(j) = t; i -= 1 }
      o
    }
    def rep(): (Double, Long) = {
      val o = order()
      val t0 = System.nanoTime()
      var sum = 0L
      var i = 0
      while (i < n) { sum += f(o(i)); i += 1 }
      ((System.nanoTime() - t0).toDouble, sum)
    }
    val check = rep()._2
    rep()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spent = 0.0
    while (times.size < minReps || spent < minMs * 1e6) {
      val (t, s) = rep()
      require(s == check, s"kernel $name checksum changed between repetitions: $check, then $s")
      times += t
      spent += t
    }
    Result(name, Stats.median(times.toSeq) / n, check)
  }

  def run(spark: SparkSession, dataDir: String, seed: Long): Seq[Result] = {
    val docs = graft.Tables.documents(spark, dataDir)
      .orderBy("doc_id").select("text").collect()
      .map(r => UTF8String.fromString(Option(r.getString(0)).getOrElse("")))
    val embs = graft.Tables.embeddings(spark, dataDir)
      .orderBy("vec_id").select("embedding").collect()
      .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray))
    val toks = docs.map(WsTokenize.tokenize(_, true))
    val rawToks = docs.map(WsTokenize.tokenize(_, false))
    val shingles = toks.map(NGramShingles.shingle(_, graft.ops.Dedup.shingleSize))
    // q247's pairs: document prefixes, each with its neighbour in sorted order.
    val prefixes = docs.map(d => UTF8String.fromString(d.toString.take(graft.ops.Dedup.levPrefixLen)))
      .sortWith(_.compareTo(_) < 0)
    val levMax = graft.ops.Dedup.levMax
    // A lexicon drawn from the corpus itself, so the automaton finds matches.
    val words = rawToks.flatMap(t => (0 until t.numElements()).map(t.getUTF8String(_).toString))
      .filter(_.length >= 4).distinct.sorted
    val matcher = AcMatcher.build(words.zipWithIndex.collect {
      case (w, i) if i % 3 == 0 => (s"e$i", Seq(w, s"$w $w"))
    }.toSeq)
    val nd = docs.length
    val ne = embs.length
    Seq(
      time("tokenize", nd, seed)(i => arrHash(WsTokenize.tokenize(docs(i), true))),
      time("shingle", nd, seed)(i => arrHash(NGramShingles.shingle(toks(i), graft.ops.Dedup.shingleSize))),
      time("minhash_md5", nd, seed)(i => arrHash(MinHashMd5.minhash(shingles(i), graft.ops.Dedup.minhashMd5K))),
      time("simhash64", nd, seed)(i => SimHash64.simhash(toks(i))),
      time("simhash_md5", nd, seed)(i => arrHash(SimHashMd5.simhash(toks(i)))),
      time("winnow", nd, seed)(i => arrHash(WinnowFingerprint.winnow(docs(i), 5, 4))),
      time("levenshtein_band", nd - 1, seed)(i =>
        LevenshteinBand.distance(prefixes(i), prefixes(i + 1), levMax).toLong),
      time("lexicon_entities", nd, seed)(i => arrHash(matcher.run(docs(i)))),
      time("dot", ne, seed)(i =>
        java.lang.Double.doubleToLongBits(DotProduct.dotFF(embs(i), embs((i + 1) % ne)))),
      time("langid", nd, seed)(i => LangId.langOf(rawToks(i)).hashCode.toLong),
    )
  }
}
