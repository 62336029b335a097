package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, BoundReference, Expression, Size, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types._

import graft.functions.{BpeKernel, HashPairIntersectSize, MinHashSig, NGramHashes, VecDot}

/** Cost per unit of the public `functions/` kernels, called directly:
  * the gram-hash and MinHash kernels per input token, the hash-pair
  * intersect kernel against Spark's `size(array_intersect)` at three array
  * sizes, BPE encoding per token and `vec_dot` per dimension.
  *
  * Each Catalyst kernel runs as a generated `UnsafeProjection` over
  * `UnsafeRow`s, the code and row layout a Spark task runs, without the
  * per-job overhead that would swamp a kernel at this input size. Token
  * inputs are the `documents` table and vectors the `embeddings` table;
  * the hash-pair arrays are seeded random 128-bit pairs of which exactly
  * half are shared, so both intersect paths must return n/2 per pair, and
  * a probe that does not fails the run. Each probe reports the median of
  * its timed repetitions after one untimed warm-up; the builtin at n=16384
  * (2^28 struct comparisons for one pair) is timed once. */
object KernelProbes {
  /** One probe: `value` is the median repetition's time per unit. */
  final case class Probe(name: String, startMs: Long, endMs: Long, units: Long, repsNs: Seq[Long],
      value: Double, error: String)

  private val Sizes = Seq(64, 1024, 16384)
  private val KernelElems = 1 << 19 // per side, per size
  private val BuiltinCompares = 1L << 20 // array_intersect on structs is O(n*m)
  private val Reps = 5

  def run(spark: SparkSession, data: String, seed: Long): Seq[Probe] = {
    val docs = graft.Tables(spark, data, "documents").select("text").collect()
      .map(_.getString(0).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
    val tokens = docs.map(_.length.toLong).sum
    val tokType = ArrayType(StringType, containsNull = false)
    val tok = unsafeRows(StructType(Seq(StructField("tk", tokType))), docs.toSeq.map(d => Row(d.toSeq)))
    val tk = BoundReference(0, tokType, nullable = false)
    val out = Seq.newBuilder[Probe]
    out += probe("functions.ngram_hashes.ns_per_token", tokens, tok, Size(NGramHashes(tk, 3)))
    out += probe("functions.minhash_sig.ns_per_token", tokens, tok, Size(MinHashSig(tk, 3, 8)))

    val rnd = new Random(seed)
    val pair = StructType(Seq(StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false)))
    val arr = ArrayType(pair, containsNull = false)
    val a = BoundReference(0, arr, nullable = false)
    val b = BoundReference(1, arr, nullable = false)
    for (n <- Sizes) {
      val kernelPairs = math.max(1, KernelElems / n)
      val builtinPairs = math.max(1L, BuiltinCompares / (n.toLong * n)).toInt
      val rows = hashPairs(rnd, n, kernelPairs, StructType(Seq(StructField("a", arr), StructField("b", arr))))
      out += probe(s"functions.hash_pair_intersect_size.ns_per_elem.n$n", 2L * n * kernelPairs,
        rows, HashPairIntersectSize(a, b), expect = Some(kernelPairs.toLong * (n / 2)))
      out += probe(s"builtin.array_intersect_size.ns_per_elem.n$n", 2L * n * builtinPairs,
        rows.take(builtinPairs), Size(ArrayIntersect(a, b)),
        expect = Some(builtinPairs.toLong * (n / 2)), minUnits = 0L,
        reps = if (n.toLong * n > BuiltinCompares) 1 else Reps)
    }

    out += bpe(docs)

    val vecs = graft.Tables(spark, data, "embeddings").select("embedding").collect()
      .map(_.getSeq[Float](0))
    val dim = vecs.head.length
    val vt = ArrayType(FloatType)
    val vp = unsafeRows(StructType(Seq(StructField("a", vt), StructField("b", vt))),
      vecs.indices.map(i => Row(vecs(i), vecs((i * 7 + 1) % vecs.length))))
    out += probe("functions.vec_dot.ns_per_dim", vp.length.toLong * dim, vp,
      VecDot(BoundReference(0, vt, nullable = true), BoundReference(1, vt, nullable = true)))
    out.result()
  }

  private def unsafeRows(schema: StructType, rows: Seq[Row]): Array[UnsafeRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val proj = UnsafeProjection.create(schema)
    rows.map(r => proj(toCatalyst(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]).copy()).toArray
  }

  /** `count` rows of two arrays of n distinct random pairs, n/2 shared. */
  private def hashPairs(rnd: Random, n: Int, count: Int, schema: StructType): Array[UnsafeRow] = {
    def fresh(k: Int) = Seq.fill(k)(Row(rnd.nextLong(), rnd.nextLong()))
    unsafeRows(schema, Seq.fill(count) {
      val shared = fresh(n / 2)
      Row(shared ++ fresh(n - n / 2), rnd.shuffle(shared ++ fresh(n - n / 2)))
    })
  }

  /** Sums `expr` over `rows`, looping so one repetition covers at least
    * `minUnits` units, `reps` timed repetitions after one warm-up. */
  private def probe(name: String, units: Long, rows: Array[UnsafeRow], expr: Expression,
      expect: Option[Long] = None, minUnits: Long = 1L << 19, reps: Int = Reps): Probe = {
    val start = System.currentTimeMillis()
    val p = UnsafeProjection.create(Seq(expr))
    val loops = math.max(1L, minUnits / units).toInt
    def once(): (Long, Long) = {
      val t0 = System.nanoTime()
      var s = 0L
      for (_ <- 0 until loops; r <- rows) {
        val v = p(r)
        s += (if (expr.dataType == DoubleType) v.getDouble(0).toLong else v.getLong(0))
      }
      (System.nanoTime() - t0, s / loops)
    }
    // a single repetition (one quadratic builtin pair) runs without warm-up
    val runs = Seq.fill(if (reps > 1) reps + 1 else 1)(once())
    val bad = runs.map(_._2).find(v => expect.exists(_ != v))
    record(name, start, units * loops, runs.takeRight(reps).map(_._1),
      bad.map(v => s"expected ${expect.get}, got $v"))
  }

  private def record(name: String, startMs: Long, units: Long, ns: Seq[Long], error: Option[String]): Probe = {
    val med = ns.sorted.apply(ns.size / 2)
    Probe(name, startMs, System.currentTimeMillis(), units, ns, med.toDouble / units, error.getOrElse(""))
  }

  /** BPE encoding of every document against the corpus's 32 most frequent
    * adjacent token pairs. */
  private def bpe(docs: Array[Array[String]]): Probe = {
    val start = System.currentTimeMillis()
    val counts = docs.iterator.flatMap(d => d.iterator.zip(d.iterator.drop(1)))
      .filter { case (a, b) => a != b }.toSeq.groupBy(identity).view.mapValues(_.size).toSeq
    val merges = counts.sortBy { case ((a, b), c) => (-c, a, b) }.take(32).map(_._1).toArray
    val table = new BpeKernel.Table(merges)
    val tokens = docs.map(_.length.toLong).sum
    val loops = math.max(1, (1L << 19) / tokens).toInt
    def once(): (Long, Long) = {
      val t0 = System.nanoTime()
      var out = 0L
      for (_ <- 0 until loops; d <- docs) out += BpeKernel.encode(d, table).length
      (System.nanoTime() - t0, out)
    }
    val runs = Seq.fill(Reps + 1)(once())
    val merged = runs.head._2 < tokens * loops
    record("functions.bpe_encode.ns_per_token", start, tokens * loops, runs.tail.map(_._1),
      if (merged) None else Some("no merge applied"))
  }
}
