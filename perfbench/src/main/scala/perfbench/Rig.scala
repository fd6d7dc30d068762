package perfbench

import scala.util.Random

import graft.expressions.{SignatureExpressions, VectorExpressions}
import graft.media.{Gif, Jpeg}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Direct calls into the custom Catalyst kernels' and hand-rolled codecs'
  * public eval entry points, over inputs drawn from the workload seed.
  * Query timings cannot separate this work from the rest of executor time.
  * Each figure is the median of several timed rounds after warm-up rounds.
  */
object Rig {
  private val Rounds = 7
  private val Warmup = 3

  /** Median nanoseconds per unit of `units` over the timed rounds. */
  private def time(units: Long)(body: => Any): Double = {
    var sink = 0
    val per = (0 until Warmup + Rounds).map { _ =>
      val t0 = System.nanoTime()
      sink += body.##
      (System.nanoTime() - t0).toDouble / units
    }.drop(Warmup).sorted
    if (sink == 42) print("") // keep the results observable
    per(per.size / 2)
  }

  def run(seed: Long): Map[String, Double] = {
    val rng = new Random(seed)
    val perms = 64
    val permA = Array.fill(perms)(1L + rng.nextInt(Int.MaxValue))
    val permB = Array.fill(perms)(rng.nextInt(Int.MaxValue).toLong)
    val rows = 2000
    val shingles = Array.fill(rows)(new GenericArrayData(Array.fill[Any](20 + rng.nextInt(60))(rng.nextInt(1 << 30).toLong)))
    val sigs = shingles.map(SignatureExpressions.minhashEval(_, permA, permB))
    val sets: Array[ArrayData] = shingles.map(a => new GenericArrayData(a.toLongArray().distinct.sorted.map(x => x: Any)))
    val pairs = 20000
    val left = Array.fill(pairs)(rng.nextInt(rows))
    val right = Array.fill(pairs)(rng.nextInt(rows))

    val dim = 64
    val vecs = Array.fill(rows)(new GenericArrayData(Array.fill[Any](dim)(rng.nextGaussian())))
    val dot = VectorExpressions.DotProduct(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      BoundReference(1, ArrayType(DoubleType), nullable = true))
    val vecRows = Array.tabulate(pairs)(i => InternalRow(vecs(left(i)), vecs(right(i))))

    val (w, h) = (256, 256)
    val quant = Array.fill(64)(1 + rng.nextInt(16))
    val blocks = Array.fill((w / 8) * (h / 8)) {
      Array.tabulate(64)(k => if (k == 0) rng.nextInt(64) - 32 else if (k < 10) rng.nextInt(9) - 4 else 0)
    }
    val jpeg = Jpeg.encode(w, h, quant, blocks)
    val palette = Array.fill(64)(Array.fill(3)(rng.nextInt(256).toByte))
    val rgb = (0 until w * h).flatMap { i => palette((i / 7 + rng.nextInt(3)) % palette.length) }.toArray
    val gif = Gif.encode(w, h, rgb)
    val images = 20

    Map(
      "expressions.minhash_ns_per_row" -> time(rows) {
        shingles.foldLeft(0)((acc, a) => acc + SignatureExpressions.minhashEval(a, permA, permB).numElements())
      },
      "expressions.sig_agreement_ns_per_pair" -> time(pairs) {
        (0 until pairs).foldLeft(0L)((acc, i) => acc + SignatureExpressions.sigAgreementEval(sigs(left(i)), sigs(right(i)), perms))
      },
      "expressions.jaccard_ns_per_pair" -> time(pairs) {
        (0 until pairs).foldLeft(0.0)((acc, i) => acc + SignatureExpressions.jaccardSimEval(sets(left(i)), sets(right(i))))
      },
      "expressions.dot_ns_per_pair" -> time(pairs) {
        vecRows.foldLeft(0.0)((acc, r) => acc + dot.eval(r).asInstanceOf[Double])
      },
      "media.jpeg_decode_mb_s" -> (jpeg.length.toDouble * 1e3 / time(1)((0 until images).map(_ => Jpeg.decodePixels(jpeg)._1).sum)) * images,
      "media.gif_decode_mb_s" -> (gif.length.toDouble * 1e3 / time(1)((0 until images).map(_ => Gif.decode(gif)._1).sum)) * images)
  }
}
