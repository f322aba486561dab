package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The reference's CSV file format (SURVEY.md §2.1 S1; reference:
  * README.md:38-45 + pipe COPY options customer-end-to-end-pipeline-
  * script.sql:55-56):
  *   delimiter ',', record '\n', skip_header=1, fields optionally quoted
  *   with '"', `\N` → NULL, error_on_column_count_mismatch=false
  *   (short rows null-padded to the schema), blank lines tolerated.
  *
  * Snowflake's skip_header skips N *physical* lines per file — including a
  * blank first line and regardless of whether a header is present (the
  * customer_delta_1.csv fixture has a leading blank line, no header, and
  * only 9 of 10 columns; FIXTURES.md §A). Spark's csv header option
  * instead consumes the first *parsed* row, which silently eats a data
  * row on headerless files — so we implement skip-lines semantics
  * ourselves and feed the remaining lines to Spark's native CSV parser
  * via `csv(Dataset[String])` (keeps univocity parsing + PERMISSIVE
  * null-padding).
  *
  * Scale: landing files are pipe micro-batches (small by construction);
  * each file is read whole, one row per file, so the skip is per file and
  * parsing is distributed one file per task. A huge single CSV is one
  * task: split it before it lands.
  */
final case class CsvFormat(
    skipHeaderLines: Int = 1,
    delimiter: String = ",",
    quote: String = "\"",
    nullValue: String = "\\N",
    emptyFieldAsNull: Boolean = true) // Snowflake COPY default EMPTY_FIELD_AS_NULL

object CsvIngest {

  /** Read the CSV files `paths` with reference semantics: each file's
    * first `fmt.skipHeaderLines` physical lines are dropped, then blank
    * lines. What [[Pipe]] parses its landed files with. */
  def read(spark: SparkSession, paths: Seq[String], schema: StructType,
      fmt: CsvFormat = CsvFormat()): DataFrame = {
    val skip = fmt.skipHeaderLines
    val lines = fileTexts(spark, paths).flatMap((text: String) =>
      text.split("\n", -1).iterator.drop(skip)
        .map(_.stripSuffix("\r")).filter(_.trim.nonEmpty))(Encoders.STRING)
    emptyToNull(spark.read
      .schema(schema)
      .option("delimiter", fmt.delimiter)
      .option("quote", fmt.quote)
      .option("nullValue", fmt.nullValue)
      .option("mode", "PERMISSIVE")
      .option("header", "false")
      .csv(lines), fmt)
  }

  /** The whole text of each file in `paths`, one row per file. */
  private[ingest] def fileTexts(spark: SparkSession, paths: Seq[String]): Dataset[String] =
    if (paths.isEmpty) spark.emptyDataset[String](Encoders.STRING)
    else spark.read.format("binaryFile").load(paths: _*)
      .select(col("content").cast("string")).as[String](Encoders.STRING)

  /** EMPTY_FIELD_AS_NULL (Snowflake COPY default): empty string fields →
    * NULL. Matters downstream: a varchar stage column holding '' would
    * blow up a later CAST('' AS DATE) that NULL sails through. */
  private def emptyToNull(df: DataFrame, fmt: CsvFormat): DataFrame =
    if (!fmt.emptyFieldAsNull) df
    else {
      import org.apache.spark.sql.functions.{lit, when}
      df.select(df.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          when(col(f.name) === "", lit(null)).otherwise(col(f.name)).as(f.name)
        else col(f.name)
      }.toIndexedSeq: _*)
    }
}
