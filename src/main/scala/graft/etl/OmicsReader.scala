package graft.etl

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Ingestion of omics feature matrices into the engine's canonical shape
  * `(sample_id: String, features: Array[Double])` + a feature-name dim
  * table `(feature_idx: Long, feature_name: String)`.
  *
  * Replicates the reference's two load paths
  * (ref: Simulation_Models/CNC_AE_model_selection.py:507-508 — features-
  * as-rows TSV loaded with `pd.read_csv(sep='\t').T`; AE_results.ipynb
  * cell 67 — samples-as-rows TSV) as declarative Spark plans.
  *
  * Scale notes: one array column, never tens of thousands of scalar
  * columns (Catalyst plans stay small, projections stay narrow). The
  * transpose is by feature block: each input split transposes its own
  * lines, and one shuffle keyed by sample carries samples × input
  * partitions rows (SURVEY §4.3's "partition by feature block"). At
  * 100 TB the blocked matrix itself is the storage format and this
  * reader is only the edge adapter.
  */
object OmicsReader {

  final case class OmicsMatrix(data: DataFrame, featureNames: DataFrame)

  /** Appends a 0-based file-order row index. Distributed: RDD
    * `zipWithIndex` (file-split partitions are ordered by offset, so
    * partition order IS file order; one extra tiny job computes the
    * per-partition offsets) — never a no-partition window, which would
    * funnel the whole ingest through a single task at scale. The index
    * is LongType: zipWithIndex is already Long, and an Int column would
    * silently wrap negative past 2^31 rows and mis-align positional
    * joins (j3) instead of failing (ADVICE r10). */
  private[graft] def withRowIdx(df: DataFrame, name: String): DataFrame = {
    val schema = df.schema.add(name, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Features-as-rows TSV with an R-style header (the header line has one
    * cell fewer than the data lines; each data line leads with the
    * feature id). Returns samples as rows, feature order preserved from
    * the file (matching the reference's pandas `.T`).
    *
    * Block transpose: the file is read as text, and each input
    * partition (a run of consecutive file lines) transposes its own
    * lines in one task, emitting one `(sample_idx, part, chunk)` row per
    * sample, where `chunk` is that sample's values over the partition's
    * features. One shuffle keyed by sample concatenates the chunks in
    * partition order, which is file order. The shuffle carries samples ×
    * input partitions rows (not features × samples), and a task holds
    * one split's values. Values go through the ANSI `cast("double")` on
    * the map side, so a malformed number fails the read.
    *
    * Only the first line is the header, and it is read on the driver.
    * A data line must have exactly n + 1 cells (n samples); any other
    * width fails with a message naming the feature id. Empty cells read
    * as null; blank lines are skipped. Cells are unquoted the way the
    * CSV reader unquotes them (the reference files quote sample and
    * feature ids). The header is found by the partition's position, so
    * `path` names one file.
    */
  def readTransposed(spark: SparkSession, path: String): OmicsMatrix = {
    import spark.implicits._
    val sampleIds = firstLine(spark, path).split("\t", -1).map(unquote)
    val n = sampleIds.length
    val lines = spark.read.text(path).as[String]
    val chunks = lines.mapPartitions { it =>
      val part = TaskContext.getPartitionId()
      val rows = dataLines(it, part, n).toArray
      if (rows.isEmpty) Iterator.empty
      else Iterator.tabulate(n) { s =>
        (s, part, rows.map { r =>
          val cell = unquote(r(s + 1))
          if (cell.isEmpty) null else cell
        })
      }
    }.toDF("sample_idx", "part", "chunk")
    val wide = chunks
      .select(col("sample_idx"), struct(col("part"),
        transform(col("chunk"), _.cast("double")).as("chunk")).as("c"))
      .groupBy("sample_idx")
      .agg(sort_array(collect_list(col("c"))).as("cs"))
      .select(
        element_at(typedLit(sampleIds.toSeq), col("sample_idx") + 1)
          .as("sample_id"),
        flatten(transform(col("cs"), _.getField("chunk"))).as("features"))
    val names = lines.mapPartitions { it =>
      dataLines(it, TaskContext.getPartitionId(), n).map(r => unquote(r(0)))
    }.toDF("feature_name")
    OmicsMatrix(wide, withRowIdx(names, "feature_idx")
      .select("feature_idx", "feature_name"))
  }

  /** The first line of the file at `path`, read on the driver (no job). */
  private def firstLine(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try {
      val line = new BufferedReader(
        new InputStreamReader(in, StandardCharsets.UTF_8)).readLine()
      if (line == null)
        throw new IllegalArgumentException(s"empty omics matrix file: $path")
      line
    } finally in.close()
  }

  /** The data lines of input partition `part`, split into cells: the
    * first line of partition 0 (the header) and blank lines are
    * skipped, and a line that is not n + 1 cells wide fails. */
  private def dataLines(it: Iterator[String], part: Int,
      n: Int): Iterator[Array[String]] =
    (if (part == 0) it.drop(1) else it).filter(_.nonEmpty).map { line =>
      val cells = line.split("\t", -1)
      if (cells.length != n + 1) throw new IllegalArgumentException(
        s"feature '${unquote(cells(0))}' has ${cells.length} cells, " +
          s"expected ${n + 1} (the feature id and $n samples)")
      cells
    }

  /** Strips one pair of enclosing double quotes, as the CSV reader does. */
  private def unquote(cell: String): String =
    if (cell.length >= 2 && cell.head == '"' && cell.last == '"')
      cell.substring(1, cell.length - 1)
    else cell

  /** Samples-as-rows TSV (TCGA shape): header present, `idCol` holds the
    * sample id, every other column is one feature (file column order kept).
    *
    * Implementation is read-as-TEXT + ONE split per row, NOT a csv scan
    * with one Spark column per feature. At the real TCGA width (20531
    * genes + id = 20532 columns) the csv formulation fails twice over:
    * univocity's default maxColumns (20480) rejects the file outright,
    * and the 20k-child CreateArray projection blows past the JVM/JIT
    * method limits — the generated class splits into thousands of
    * `apply_0_NNNN` methods that run interpreted (measured round 7: the
    * 1866×20531 ingest burned 25 CPU-minutes per task without
    * finishing; the text+split plan ingests the same file in seconds
    * and its plan size is O(1) in the width). Numeric TSV matrices
    * never quote fields, so the raw split is exact. */
  def readSamplesAsRows(spark: SparkSession, path: String,
      idCol: String = "_c0", header: Boolean = true): OmicsMatrix = {
    val lines = spark.read.text(path)
    val firstLine = lines.head().getString(0)
    val firstCells = firstLine.split("\t", -1)
    val (names, idIdx, data0) =
      if (header) {
        // id column: a named header cell, or the pandas empty index
        // cell (which a csv reader would surface as "_c0")
        val i = firstCells.indexOf(idCol) match {
          case -1 if idCol == "_c0" => 0
          case -1 => throw new IllegalArgumentException(
            s"id column '$idCol' not present in header")
          case found => found
        }
        // drop every header line (multi-part files repeat it; data
        // lines are numeric so they can never equal the header)
        (firstCells, i, lines.filter(col("value") =!= lit(firstLine)))
      } else {
        val i = idCol.stripPrefix("_c").toInt
        ((0 until firstCells.length).map(j => s"_c$j").toArray, i, lines)
      }
    val n = names.length
    val parts = split(col("value"), "\t", -1)
    val featSlice =
      if (idIdx == 0) slice(parts, 2, n - 1)
      else if (idIdx == n - 1) slice(parts, 1, n - 1)
      else concat(slice(parts, 1, idIdx),
        slice(parts, idIdx + 2, n - 1 - idIdx))
    // ANSI hazard (found by the s2 oracle): a downstream Generate over
    // `features` makes InferFiltersFromGenerate copy a
    // size(features) > 0 predicate into the SAME Filter as the
    // header-drop conjunct, and codegen subexpression elimination then
    // evaluates the shared transform() — strict cast included — BEFORE
    // the header-equality check short-circuits, so the cast throws on
    // the very header row the filter exists to drop. Guarding the
    // lambda on the header line keeps ANSI strictness for data rows
    // (malformed numerics still fail loudly) while making the header
    // row yield nulls instead of throwing wherever the optimizer
    // chooses to evaluate it; the header-drop filter still removes it
    // from the output.
    val featCast =
      if (header)
        transform(featSlice, s =>
          when(col("value") === lit(firstLine),
            lit(null).cast("double")).otherwise(s.cast("double")))
      else transform(featSlice, s => s.cast("double"))
    val data = data0.select(
      element_at(parts, idIdx + 1).as("sample_id"),
      featCast.as("features"))
    val featNames = names.zipWithIndex.filter(_._2 != idIdx).map(_._1)
    val nameDim = spark.createDataFrame(
      featNames.toSeq.zipWithIndex.map { case (nm, i) => (i, nm) }
    ).toDF("feature_idx", "feature_name")
    OmicsMatrix(data, nameDim)
  }

  /** S5 — whitespace-delimited numeric matrix (np.loadtxt semantics:
    * any run of whitespace separates, no header —
    * ref: Simulation_Auxiliary/test_metrics.py:5). Row order preserved
    * via distributed zipWithIndex (file order). */
  def readWhitespaceMatrix(spark: SparkSession, path: String): DataFrame =
    withRowIdx(spark.read.text(path), "row_idx")
      .select(col("row_idx"),
        transform(split(trim(col("value")), "\\s+"),
          s => s.cast("double")).as("values"))

  /** Positionally-aligned label file (single column, no header beyond a
    * `0` placeholder — ref: TCGA_Data/labels.csv, AE_results.ipynb cell
    * 67). Joined to samples by row position.
    */
  def readLabels(spark: SparkSession, path: String): DataFrame =
    withRowIdx(
      spark.read.option("sep", "\t").option("header", true).csv(path),
      "sample_idx")
      .withColumnRenamed("0", "label")
}
