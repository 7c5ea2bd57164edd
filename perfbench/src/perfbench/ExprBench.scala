package perfbench

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.{FastCheck, MarcValidator}
import graft.rules.RuleSet
import graft.schema.{Doc, Span}

/** Single-thread driver microbench of the two validation paths over a fixed
  * decoded sample: FastCheck's prove-clean test and the full
  * decode + check + render path. The ratios are exact functions of the
  * sample, so they repeat for a given seed.
  */
object ExprBench {
  val SampleDocs = 5000
  /** Keeps the timed loops' results live so the JIT cannot drop them. */
  @volatile var blackhole = 0L

  final case class Result(fastNs: Double, fullNs: Double, hitRatio: Double,
      wastedRatio: Double, unsound: Int)

  def run(docs: Seq[Doc], rules: RuleSet = RuleSet.default): Result = {
    val fc = new FastCheck(rules)
    def arr(xs: Seq[String]): ArrayData =
      new GenericArrayData(xs.map(s => if (s == null) null else UTF8String.fromString(s)).toArray[Any])
    val kinds = docs.map(d => arr(d.spans.map(_.kind))).toArray
    val texts = docs.map(d => arr(d.spans.map(_.text))).toArray
    val n = kinds.length

    // the kernel's slow path: decode the two arrays to spans, then validate
    def full(i: Int): Int = {
      val k = kinds(i); val t = texts(i)
      val spans = Array.tabulate(k.numElements()) { j =>
        Span(if (k.isNullAt(j)) null else k.getUTF8String(j).toString,
          if (t.isNullAt(j)) null else t.getUTF8String(j).toString, null, j)
      }
      MarcValidator.validate(scala.collection.immutable.ArraySeq.unsafeWrapArray(spans), rules).size
    }

    var clean = 0; var wasted = 0; var unsound = 0
    for (i <- 0 until n) {
      val ok = fc.clean(kinds(i), texts(i))
      val v = full(i)
      if (ok) { clean += 1; if (v != 0) unsound += 1 }
      else if (v == 0) wasted += 1
    }
    val punted = n - clean

    var sink = 0L
    def pass(f: Int => Int): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink += f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    def timed(reps: Int, warm: Int)(f: Int => Int): Double = {
      (1 to warm).foreach(_ => pass(f))
      Stats.median((1 to reps).map(_ => pass(f)))
    }
    val fastNs = timed(15, 5)(i => if (fc.clean(kinds(i), texts(i))) 1 else 0)
    val fullNs = timed(7, 2)(full)
    blackhole = sink
    Result(fastNs, fullNs, clean.toDouble / n,
      if (punted == 0) 0.0 else wasted.toDouble / punted, unsound)
  }
}
