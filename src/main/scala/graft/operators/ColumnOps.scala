package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** The reference's per-record transform vocabulary (Beam DoFn library,
  * `af2_dags/dependencies/dataflow_scripts/dataflow_utils/dataflow_utils.py`)
  * re-expressed as pure `DataFrame => DataFrame` combinators built from
  * Catalyst column expressions — no UDFs, so every one of these stays
  * inside whole-stage codegen and scales linearly with executors.
  *
  * Each combinator cites the reference DoFn it reproduces.
  */
object ColumnOps {

  /** SwapFieldNames (dataflow_utils.py:704-722): rename per (old,new)
    * pairs; an absent old column yields a NULL new column (the reference
    * warns + emits None).
    */
  def renameFields(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    // the pairs apply in order to the CURRENT step's names, so a
    // chained rename (a->b, b->c) sees the intermediate name — a
    // snapshot of the original columns would emit a NULL column
    // instead (the reference DoFn mutates the record dict
    // sequentially, so chains work there). The steps run on
    // (name, source column or None for NULL) pairs and emit one
    // projection; names match as `withColumnRenamed` and `withColumn`
    // match them, so a NULL column whose name is taken replaces it.
    val same: (String, String) => Boolean =
      if (df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean) _ == _
      else _.equalsIgnoreCase(_)
    val out = pairs.foldLeft(df.columns.toVector.map(c => c -> Option(c))) {
      case (cols, (oldName, newName)) =>
        if (cols.exists(_._1 == oldName))
          cols.map { case (n, src) => (if (same(n, oldName)) newName else n) -> src }
        else if (cols.exists(c => same(c._1, newName)))
          cols.map { case (n, src) => if (same(n, newName)) newName -> None else n -> src }
        else cols :+ (newName -> None)
    }
    df.select(out.map {
      case (n, Some(src)) => df.col(quoted(src)).as(n)
      case (n, None)      => lit(null).cast(StringType).as(n)
    }: _*)
  }

  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** camel_to_snake_case (dataflow_utils.py:844-848). Pure name mapping,
    * zero execution cost (driver-side projection).
    */
  def camelToSnake(name: String): String =
    name.replaceAll("([a-z0-9])([A-Z])", "$1_$2")
      .replaceAll("([A-Z]+)([A-Z][a-z])", "$1_$2")
      .toLowerCase

  /** ColumnsCamelToSnakeCase (dataflow_utils.py:208-217) with optional
    * strip-substring (e.g. cartegraph strips "Field").
    */
  def columnsCamelToSnake(df: DataFrame, strip: Option[String] = None): DataFrame = {
    val newNames = df.columns.map { c =>
      val stripped = strip.fold(c)(s => c.replace(s, ""))
      camelToSnake(stripped)
    }
    df.toDF(newNames.toIndexedSeq: _*)
  }

  /** ColumnsToLowerCase (dataflow_utils.py:220-223). */
  def columnsToLowerCase(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)

  /** FilterFields (dataflow_utils.py:384-395, :1205-1229): drop listed
    * fields (exclude=true) or keep only listed fields (exclude=false).
    */
  def filterFields(df: DataFrame, fields: Seq[String], exclude: Boolean = true): DataFrame =
    if (exclude) df.drop(fields: _*)
    else df.select(fields.filter(df.columns.contains).map(col): _*)

  /** Target type vocabulary of ChangeDataTypes (dataflow_utils.py:158-205). */
  sealed trait RefType
  case object RStr     extends RefType
  case object RNullStr extends RefType // "" => NULL
  case object RInt     extends RefType // unparseable / NaN => NULL
  case object RPosInt  extends RefType // out of [0, Int.MaxValue] => NULL
  case object RFloat   extends RefType
  case object RBool    extends RefType // json-style "true"/"false"

  /** ChangeDataTypes (dataflow_utils.py:158-205): per-field cast with
    * NaN→NULL, ValueError→NULL (try_cast semantics), posint range guard,
    * nullstr empty-string nulling.
    */
  def changeTypes(df: DataFrame, specs: Seq[(String, RefType)]): DataFrame =
    // one projection; a field listed twice converts the first
    // conversion's result, as a chain of withColumn calls would
    df.withColumns(specs.foldLeft(ListMap.empty[String, Column]) { case (done, (f, t)) =>
      val c = done.getOrElse(f, col(f))
      val converted: Column = t match {
        case RStr     => c.cast(StringType)
        case RNullStr => when(c.cast(StringType) === "", lit(null)).otherwise(c.cast(StringType))
        case RInt     => c.try_cast(LongType)
        case RPosInt  =>
          val v = c.try_cast(LongType)
          when(v.between(0L, Int.MaxValue.toLong), v.cast(IntegerType))
        case RFloat   =>
          val v = c.try_cast(DoubleType)
          when(isnan(coalesce(v, lit(0.0))), lit(null)).otherwise(v)
        case RBool    => lower(trim(c.cast(StringType))).try_cast(BooleanType)
      }
      done.updated(f, converted)
    })

  /** ConvertBooleans (dataflow_utils.py:226-263): token-vocabulary boolean
    * parse with per-field true/false token lists and a default for
    * unrecognised values. Reference default vocab: yes/y/t/true/1/positive
    * vs no/n/f/false/0/negative.
    */
  val defaultTrueTokens: Seq[String]  = Seq("yes", "y", "t", "true", "1", "positive")
  val defaultFalseTokens: Seq[String] = Seq("no", "n", "f", "false", "0", "negative")

  def convertBooleans(
      df: DataFrame,
      field: String,
      trueTokens: Seq[String] = defaultTrueTokens,
      falseTokens: Seq[String] = defaultFalseTokens,
      default: Option[Boolean] = None): DataFrame = {
    val v = lower(trim(col(field).cast(StringType)))
    val d = default.map(lit(_)).getOrElse(lit(null).cast(BooleanType))
    df.withColumn(field,
      when(v.isin(trueTokens: _*), lit(true))
        .when(v.isin(falseTokens: _*), lit(false))
        .otherwise(d))
  }

  /** ConvertStringCase (dataflow_utils.py:300-323). */
  def convertStringCase(df: DataFrame, field: String, mode: String): DataFrame = {
    val c = col(field)
    val out = mode match {
      case "upper"      => upper(c)
      case "lower"      => lower(c)
      case "title"      => initcap(c)
      case "capitalize" => concat(upper(substring(c, 1, 1)), substring(c, 2, Int.MaxValue))
      case "sentence"   => concat(upper(substring(c, 1, 1)), lower(substring(c, 2, Int.MaxValue)))
      case m            => throw new IllegalArgumentException(s"unknown case mode $m")
    }
    df.withColumn(field, out)
  }

  /** StripStrings (dataflow_utils.py:688-701). */
  def stripStrings(df: DataFrame, fields: Seq[String]): DataFrame =
    fields.foldLeft(df)((d, f) => d.withColumn(f, trim(col(f))))

  /** StripBeforeDelim (dataflow_utils.py:663-685): `value.split(delim)
    * [keep]` — keep==0 is everything before the first delimiter;
    * keep==1 is the SECOND split element (not the last), and a value
    * with no delimiter raises IndexError in the reference, which nulls
    * the field. NULL/empty input passes through unchanged (the `if
    * datum[...]` guard).
    */
  def stripBeforeDelim(df: DataFrame, field: String, delim: String, keep: Int): DataFrame = {
    val c     = col(field)
    val parts = split(c, java.util.regex.Pattern.quote(delim))
    val out   = when(c.isNull || c === "", c)
      .otherwise(try_element_at(parts, lit(keep + 1)))
    df.withColumn(field, out)
  }

  /** PrependCharacters (dataflow_utils.py:525-545): left-pad to length
    * with a character (zero-pad IDs); `numericOnly` guards to rows that
    * are purely digits.
    */
  def prependCharacters(
      df: DataFrame, field: String, length: Int, pad: String,
      numericOnly: Boolean = false): DataFrame = {
    val c = col(field).cast(StringType)
    // lpad TRUNCATES values longer than `length`; the reference's
    // rjust-style padding leaves them intact (a 7-digit id through a
    // pad-to-6 must not silently lose its last digit)
    val padded = when(org.apache.spark.sql.functions.length(c) >= length, c)
      .otherwise(lpad(c, length, pad))
    val out =
      if (numericOnly) when(c.rlike("^[0-9]+$"), padded).otherwise(c)
      else padded
    df.withColumn(field, out)
  }

  /** FilterOutliers (dataflow_utils.py:364-381): out-of-range values go
    * to NULL — the row is kept (contract tested at
    * tests/test_dataflow_utils.py:160-165).
    */
  def filterOutliers(df: DataFrame, field: String, lo: Double, hi: Double): DataFrame =
    df.withColumn(field, when(col(field).between(lo, hi), col(field)))

  /** ReplaceChar pattern (intime_assignments_dataflow.py:23-39). */
  def replaceChar(df: DataFrame, field: String, from: String, to: String): DataFrame =
    // quote BOTH sides: an unquoted replacement treats '$'/'\\' as
    // group references (runtime 'Illegal group reference')
    df.withColumn(field, regexp_replace(col(field),
      java.util.regex.Pattern.quote(from),
      java.util.regex.Matcher.quoteReplacement(to)))

  /** GetValsFromExternalFile (dataflow_utils.py:451-479): crosswalk a
    * field through a small lookup map; untracked values pass through
    * (the reference logs them). Map literal → codegen'd CASE chain.
    */
  def crosswalkMap(df: DataFrame, field: String, mapping: Map[String, String]): DataFrame = {
    val m = typedlit(mapping)
    df.withColumn(field, coalesce(element_at(m, col(field).cast(StringType)), col(field)))
  }

  /** GetValsFromExternalFile with a distinct update field
    * (dataflow_utils.py:451-479, e.g. timebank `time_bank`→`code` at
    * ceridian_accruals_dataflow.py:36): `updateField` receives the
    * mapped value when the source is tracked, else the source value
    * passes through (the reference defaults the missing update field
    * to the source before mapping).
    */
  def crosswalkMapTo(
      df: DataFrame, sourceField: String, updateField: String,
      mapping: Map[String, String]): DataFrame = {
    val m = typedlit(mapping)
    val s = col(sourceField).cast(StringType)
    df.withColumn(updateField, coalesce(try_element_at(m, s), s))
  }

  /** Crosswalk via broadcast lookup table (same semantics at scale — a
    * big crosswalk should be a broadcast join, not a literal).
    */
  def crosswalkJoin(
      df: DataFrame, field: String, lookup: DataFrame,
      keyCol: String, valCol: String): DataFrame = {
    // dedup the crosswalk on its key: a dirty lookup with a repeated
    // key would otherwise DUPLICATE every matching input row
    val lk = broadcast(lookup.select(col(keyCol).as("__ck"), col(valCol).as("__cv"))
      .dropDuplicates("__ck"))
    df.join(lk, col(field) === col("__ck"), "left")
      .withColumn(field, coalesce(col("__cv"), col(field)))
      .drop("__ck", "__cv")
  }

  /** GetValsFromExternalFile untracked-value report
    * (dataflow_utils.py:476-477): the distinct source values absent
    * from the crosswalk, with occurrence counts. The reference prints
    * these per record for ops to chase; as a frame they feed a
    * quarantine/report sink instead, and the count is one broadcast
    * anti-join + one shuffle of only the unmatched distinct keys.
    */
  def crosswalkUnmatched(
      df: DataFrame, field: String, lookup: DataFrame,
      keyCol: String): DataFrame =
    df.select(col(field).cast(StringType).as("untracked_value"))
      .where(col("untracked_value").isNotNull && col("untracked_value") =!= "")
      .join(broadcast(lookup.select(col(keyCol).cast(StringType).as("untracked_value"))),
        Seq("untracked_value"), "left_anti")
      .groupBy("untracked_value").agg(count(lit(1)).as("n_occurrences"))

  /** Literal-map variant of [[crosswalkUnmatched]]. */
  def crosswalkMapUnmatched(
      df: DataFrame, field: String, mapping: Map[String, String]): DataFrame =
    df.select(col(field).cast(StringType).as("untracked_value"))
      .where(col("untracked_value").isNotNull && col("untracked_value") =!= ""
        && !col("untracked_value").isin(mapping.keys.toSeq: _*))
      .groupBy("untracked_value").agg(count(lit(1)).as("n_occurrences"))

  /** set_col_b_based_on_col_a_val (pandas_utils.py:183-190). */
  def setColBBasedOnColA(
      df: DataFrame, colA: String, matchVal: String, colB: String,
      newVal: String): DataFrame =
    df.withColumn(colB, when(col(colA) === matchVal, lit(newVal)).otherwise(col(colB)))

  /** swap_two_columns (pandas_utils.py:242-247). */
  def swapTwoColumns(df: DataFrame, a: String, b: String): DataFrame = {
    df.withColumns(Map(a -> col(b), b -> col(a)))
  }
}
