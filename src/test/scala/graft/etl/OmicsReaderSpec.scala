package graft.etl

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `OmicsReader.readTransposed` (S1) on generated features-as-rows
  * files: the block transpose against a local parse, split into
  * several input partitions, and the reference's quoting, empty cells,
  * ragged lines and malformed numbers. */
class OmicsReaderSpec extends SparkSpec {

  /** An R-style features-as-rows TSV: `GroupG.Time1.RepR` sample ids
    * in a header one cell narrower than the data lines, `feature<f>`
    * ids, seeded integer counts. */
  private def writeMatrix(features: Int, groups: Int, reps: Int,
      seed: Long): Path = {
    val rng = new scala.util.Random(seed)
    val ids =
      for (g <- 1 to groups; r <- 1 to reps) yield s"Group$g.Time1.Rep$r"
    val sb = new StringBuilder(ids.mkString("\t")).append('\n')
    for (f <- 0 until features) {
      sb.append("feature").append(f)
      ids.foreach(_ => sb.append('\t').append(rng.nextInt(500)))
      sb.append('\n')
    }
    write(sb.toString)
  }

  private def write(text: String): Path = {
    val f = Files.createTempFile("graft-s1", ".tsv")
    Files.writeString(f, text)
    f
  }

  /** Samples → feature vectors, parsed locally. */
  private def parse(f: Path): (Seq[String], Map[String, Seq[Double]]) = {
    val lines = Files.readAllLines(f).toArray(Array.empty[String]).toSeq
    val ids = lines.head.split("\t", -1).toSeq
    val rows = lines.tail.map(_.split("\t", -1))
    (rows.map(_.head), ids.zipWithIndex.map { case (s, i) =>
      s -> rows.map(_(i + 1).toDouble)
    }.toMap)
  }

  private def matrixOf(m: OmicsReader.OmicsMatrix): Map[String, Seq[Double]] =
    m.data.collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap

  private def names(m: OmicsReader.OmicsMatrix): Seq[(Long, String)] =
    m.featureNames.orderBy("feature_idx").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")

  it("equals a local parse of the file, features in file order") {
    val f = writeMatrix(features = 40, groups = 3, reps = 4, seed = 5)
    val (features, expected) = parse(f)
    val m = OmicsReader.readTransposed(spark, f.toString)
    assert(matrixOf(m) == expected)
    assert(names(m) == features.indices.map(_.toLong).zip(features))
  }

  it("gives the same matrix when the file spans several input partitions") {
    val f = writeMatrix(features = 60, groups = 2, reps = 5, seed = 9)
    val (features, expected) = parse(f)
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, (Files.size(f) / 5).toString)
    try {
      assert(spark.read.text(f.toString).rdd.getNumPartitions >= 3)
      val m = OmicsReader.readTransposed(spark, f.toString)
      assert(matrixOf(m) == expected)
      assert(names(m) == features.indices.map(_.toLong).zip(features))
    } finally spark.conf.unset(key)
  }

  it("unquotes a quoted header and quoted feature ids (FIXTURES §1.1)") {
    val f = write("\"Group1.Time1.Rep1\"\t\"Group2.Time1.Rep1\"\n" +
      "\"mmu-let-7c-2-3p\"\t71\t3\n\"mmu-miR-1a\"\t0\t12\n")
    val m = OmicsReader.readTransposed(spark, f.toString)
    assert(matrixOf(m) == Map(
      "Group1.Time1.Rep1" -> Seq(71.0, 0.0),
      "Group2.Time1.Rep1" -> Seq(3.0, 12.0)))
    assert(names(m) == Seq((0L, "mmu-let-7c-2-3p"), (1L, "mmu-miR-1a")))
  }

  it("reads empty cells as null, the last cell included") {
    val f = write("S1\tS2\tS3\nfa\t1\t\t3\nfb\t4\t5\t\n")
    val m = OmicsReader.readTransposed(spark, f.toString)
    val rows = m.data.collect()
      .map(r => r.getString(0) -> r.getList[java.lang.Double](1).toArray.toSeq)
      .toMap
    assert(rows == Map("S1" -> Seq(1.0, 4.0), "S2" -> Seq(null, 5.0),
      "S3" -> Seq(3.0, null)))
    assert(names(m).map(_._2) == Seq("fa", "fb"))
  }

  it("fails on a ragged line, naming the feature and both widths") {
    val f = write("S1\tS2\tS3\nfa\t1\t2\t3\nfd\t1\t2\nfe\t1\t2\t3\n")
    val e = intercept[Exception] {
      OmicsReader.readTransposed(spark, f.toString).data.collect()
    }
    assert(messages(e).contains("feature 'fd' has 3 cells, expected 4"),
      messages(e))
  }

  it("fails on a malformed number; the header never reaches the cast") {
    // a Generate over `features` reads cleanly: the non-numeric header
    // is dropped before any cast
    val ok = write("S1\tS2\nfa\t0.5\t1.5\nfb\t2.0\t3.0\n")
    val exploded = OmicsReader.readTransposed(spark, ok.toString).data
      .select(col("sample_id"), posexplode(col("features")))
      .orderBy("sample_id", "pos").collect().map(_.getDouble(2)).toSeq
    assert(exploded == Seq(0.5, 2.0, 1.5, 3.0))
    val bad = write("S1\tS2\nfa\t0.5\tnot_a_number\n")
    val e = intercept[Exception] {
      OmicsReader.readTransposed(spark, bad.toString).data.collect()
    }
    assert(messages(e).contains("CAST_INVALID_INPUT"), messages(e))
  }
}
