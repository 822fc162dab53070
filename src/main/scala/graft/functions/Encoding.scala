package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Categorical encodings (SURVEY.md §2.8 F11-F12, §2.2 P5 + F8).
  *
  * Label encoding keeps pandas `.cat.codes` parity: codes are the
  * 0-based rank of the sorted distinct values, null → −1
  * (`src/data/preprocessor.py:124-127`). The dictionary ranks via
  * `GlobalRank.zipIndexed` (no unpartitioned window, no RDD hop; the
  * dictionary is |categories| rows by contract — it becomes a local
  * relation that broadcast-joins back).
  */
object Encoding {

  /** Dictionary (value, code) for a column's distinct non-null values. */
  def labelDictionary(df: DataFrame, colName: String): DataFrame =
    graft.operators.GlobalRank.zipIndexed(
      df.select(col(colName)).filter(col(colName).isNotNull).distinct(),
      Seq(col(colName)), "code")

  /** F11: attach pandas-parity codes; null → −1. */
  def labelEncode(df: DataFrame, colName: String,
                  out: String): DataFrame = {
    val dict = labelDictionary(df, colName)
    df.join(broadcast(dict), Seq(colName), "left")
      .withColumn(out, coalesce(col("code"), lit(-1L))).drop("code")
  }

  /** F12: one-hot / dummy counts via pivot with explicit values (plan
    * stays a single aggregate; explicit values avoid the extra distinct
    * pass and keep the output schema deterministic). */
  def oneHotCounts(df: DataFrame, key: String, cat: String,
                   values: Seq[String]): DataFrame =
    df.groupBy(col(key)).pivot(cat, values)
      .agg(count(lit(1)))
      .na.fill(0, values)

  /** F12 row-level form — pd.get_dummies parity
    * (`src/data/preprocessor.py:129-134`): one 0/1 indicator column per
    * category, appended per row; null (or out-of-list) values get
    * all-zero rows, matching get_dummies' dummy_na=False default. The
    * explicit category list keeps the output schema deterministic and
    * the whole op a pure codegen'd projection — zero shuffles. */
  def oneHotIndicators(df: DataFrame, cat: String,
                       values: Seq[String]): DataFrame = {
    val inds = values.map(v =>
      when(col(cat) === v, 1L).otherwise(0L).as(s"${cat}_$v"))
    df.select(df.columns.map(col).toSeq ++ inds: _*)
  }

  /** P5 + F8: missing indicators then sentinel imputation, one select. */
  def imputeWithIndicators(df: DataFrame, cols: Seq[String],
                           sentinel: Double): DataFrame = {
    val keep = df.columns.filterNot(cols.contains).map(col)
    val imputed = cols.flatMap { c =>
      Seq(coalesce(col(c), lit(sentinel)).as(c),
        col(c).isNull.cast("long").as(s"${c}_missing"))
    }
    df.select(keep.toSeq ++ imputed: _*)
  }
}
