package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tests of the benchmark's pure parts; exits non-zero on any failure.
  * Run with `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var failed = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case t: Throwable => println(s"  threw $t"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failed += 1
  }

  def main(args: Array[String]): Unit = {
    tailRule()
    checksumFold()
    selfTime()
    if (failed > 0) { println(s"$failed failed"); sys.exit(1) }
    println("all passed")
  }

  def tailRule(): Unit = {
    val rng = new scala.util.Random(7)
    check("tail: none below 20 samples") {
      (1 until 20).forall(n => Stats.tail(Seq.fill(n)(rng.nextDouble())).isEmpty)
    }
    check("tail: at least ten distinct samples lie beyond, for every n") {
      (20 to 400).forall { n =>
        val xs = Seq.fill(n)(rng.nextDouble())
        val Some((p, v)) = Stats.tail(xs)
        xs.count(_ > v) >= 10 && p <= 90 && p >= 50
      }
    }
    check("tail: p50 at 20 samples, p90 from 100 on") {
      Stats.tail((1 to 20).map(_.toDouble)) == Some(50 -> 10.0) &&
        Stats.tail((1 to 100).map(_.toDouble)) == Some(90 -> 90.0) &&
        Stats.tail((1 to 1000).map(_.toDouble)) == Some(90 -> 900.0)
    }
    check("geomean: of 1, 4 and 16 is 4") {
      math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12
    }
    check("median: odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
        Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }
  }

  private val schema = StructType(Seq(
    StructField("k", IntegerType), StructField("s", StringType),
    StructField("d", DoubleType), StructField("a", ArrayType(DoubleType)),
    StructField("n", LongType)))

  private def row(k: Int, s: String, d: Double, a: Seq[Double],
      n: java.lang.Long): InternalRow =
    InternalRow(k, UTF8String.fromString(s), d,
      new GenericArrayData(a.map(x => x: Any).toArray), n)

  def checksumFold(): Unit = {
    val rows = (0 until 200).map(i => row(i % 17, s"doc$i", i * 0.25,
      Seq(i, -i), if (i % 5 == 0) null else java.lang.Long.valueOf(i)))
    val whole = Checksum.foldRows(rows.iterator, schema)
    val rng = new scala.util.Random(3)
    check("fold: insensitive to row order") {
      (0 until 20).forall(_ =>
        Checksum.foldRows(rng.shuffle(rows).iterator, schema) == whole)
    }
    check("fold: insensitive to partitioning") {
      (0 until 20).forall { _ =>
        val cuts = (Seq(0, rows.length) ++ Seq.fill(rng.nextInt(6))(
          rng.nextInt(rows.length))).distinct.sorted
        cuts.sliding(2).map { case Seq(a, b) =>
          Checksum.foldRows(rows.slice(a, b).iterator, schema)
        }.foldLeft(Fold.Zero)(_ merge _) == whole
      }
    }
    check("fold: a duplicated pair of rows changes it, though xor cancels") {
      val dup = rows :+ rows(5) :+ rows(5)
      val f = Checksum.foldRows(dup.iterator, schema)
      f.xor == whole.xor && f != whole && f.count == whole.count + 2
    }
    check("fold: one changed value changes it") {
      val changed = rows.updated(9, row(9 % 17, "doc9", 9 * 0.25, Seq(9, -8), 9L))
      Checksum.foldRows(changed.iterator, schema) != whole
    }
    check("fold: columns are not interchangeable") {
      val s2 = StructType(Seq(StructField("x", IntegerType), StructField("y", IntegerType)))
      Checksum.rowHash(InternalRow(1, 2), s2) != Checksum.rowHash(InternalRow(2, 1), s2)
    }
    check("fold: -0.0 and 0.0 hash alike, null differs from 0") {
      val s1 = StructType(Seq(StructField("d", DoubleType)))
      Checksum.rowHash(InternalRow(-0.0), s1) == Checksum.rowHash(InternalRow(0.0), s1) &&
        Checksum.rowHash(InternalRow(null), s1) != Checksum.rowHash(InternalRow(0.0), s1)
    }
  }

  def selfTime(): Unit = {
    def sp(a: Long, b: Long) = Span(0, 0, "t", "t", a, b)
    check("self time: overlapping children are counted once") {
      Spans.selfMs(sp(0, 100),
        Seq(sp(10, 30), sp(20, 50), sp(60, 70), sp(90, 120))) == 40
    }
    check("self time: nested and identical children") {
      Spans.selfMs(sp(0, 100), Seq(sp(10, 90), sp(20, 30), sp(10, 90))) == 20
    }
    check("self time: no children, and children outside the span") {
      Spans.selfMs(sp(0, 100), Nil) == 100 &&
        Spans.selfMs(sp(0, 100), Seq(sp(-50, -10), sp(100, 150))) == 100
    }
    check("self time: a child covering the whole span leaves zero") {
      Spans.selfMs(sp(10, 20), Seq(sp(0, 30))) == 0
    }
  }
}
