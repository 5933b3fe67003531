package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed operation of a workload.
  *
  * `build` calls into graft and returns the answer as a DataFrame; any
  * job graft runs while building (checkpoints, collects, file writes)
  * is part of the op. The benchmark then writes every column of every
  * row of the answer to Spark's `noop` sink — never `count()`, which
  * lets Catalyst prune columns and eliminate joins — and reduces the
  * same pass to a digest (see [[Digest]]). `check` judges the digest;
  * it returns an error message or None.
  */
final case class Op(
    name: String,
    layer: String, // repo module the op calls into: operators, llm or sources
    write: Boolean, // a write op (export, delete, compact) rather than a read
    build: () => DataFrame,
    check: Digest => Option[String] = _ => None,
    oracleSql: Option[String] = None, // DuckDB twin, run by run.py on the events parquet
    reference: Boolean = false, // run.py compares its stats with a benchmark-side reference
    scores: Boolean = false, // ranks by a cosine score: report scored rows per result
    stable: Boolean = true // same output on every pass
) {
  def stats: Boolean = oracleSql.nonEmpty || reference
}

/** Order-insensitive summary of one op's full output.
  *
  * `rows` and `hash` (the sum of Spark's xxhash64 over all columns of
  * every row, as an exact decimal) identify the output within Spark.
  * `stats` holds per-numeric-column sums that DuckDB can recompute
  * from the oracle SQL: plain, absolute and key-weighted sums. They
  * are only collected for ops with an oracle twin.
  */
final case class Digest(rows: Long, hash: BigDecimal, stats: Map[String, Double]) {
  def key: String = s"$rows:$hash"
}

object Digest {

  /** Aggregates computed in the same pass as the timed write. Top-level
    * floating-point columns enter the hash rounded to 6 decimals (graft's
    * output precision) with -0.0 folded into 0.0, so a change that only
    * moves the last bits of a double does not read as a wrong answer.
    */
  def columns(df: DataFrame, withStats: Boolean): Seq[Column] = {
    val all = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
        case _ => c
      }
    }
    val base = Seq(
      count(lit(1)).as("rows"),
      sum(xxhash64(all: _*).cast(DecimalType(38, 0))).as("hash")
    )
    if (!withStats) base else base ++ statColumns(df.schema).map { case (n, e) => e.as(n) }
  }

  /** Weight for the key-weighted sums: depends on the row's integer
    * columns and the channel index, so a value moved to the wrong row
    * changes the sum. Written once as SQL so Spark and DuckDB evaluate
    * the same expression.
    */
  def weightSql(schema: StructType): String = {
    val ints = schema.fields.filter(f => f.dataType == LongType || f.dataType == IntegerType).map(_.name)
    val keyed = ints.zipWithIndex.map { case (c, i) => s"${i + 1} * $c" }
    val keySum = if (keyed.isEmpty) "0" else keyed.mkString(" + ")
    val chan =
      if (schema.fieldNames.contains("channel")) "8 * CAST(substring(channel, 3, 8) AS INTEGER)" else "0"
    s"(1 + (($keySum) % 7 + 7) % 7 + $chan)"
  }

  /** name -> SQL aggregate, for every numeric column. */
  def statSql(schema: StructType): Seq[(String, String)] = {
    val w = weightSql(schema)
    schema.fields.toSeq.filter(_.dataType.isInstanceOf[NumericType]).flatMap { f =>
      val c = s"CAST(${f.name} AS DOUBLE)"
      Seq(
        s"sum:${f.name}" -> s"sum($c)",
        s"abs:${f.name}" -> s"sum(abs($c))",
        s"wsum:${f.name}" -> s"sum($c * $w)"
      )
    }
  }

  private def statColumns(schema: StructType): Seq[(String, Column)] =
    statSql(schema).map { case (n, e) => n -> expr(e) }

  def fromRow(m: Map[String, Any]): Digest = {
    val h = m.get("hash") match {
      case Some(d: java.math.BigDecimal) => BigDecimal(d)
      case _ => BigDecimal(0) // sum over no rows
    }
    val stats = m.collect {
      case (k, v: Double) if k.contains(":") => k -> v
      case (k, null) if k.contains(":") => k -> 0.0
    }
    Digest(m("rows").asInstanceOf[Long], h, stats)
  }

  /** The timed action: writes every column of every row of `df` to the
    * noop sink and returns the digest computed in the same pass.
    */
  def materialize(df: DataFrame, name: String, withStats: Boolean): Digest = {
    val obs = Observation(name)
    val cols = columns(df, withStats)
    df.observe(obs, cols.head, cols.tail: _*).write.format("noop").mode("overwrite").save()
    fromRow(obs.get)
  }

  /** Digest of a DataFrame computed outside any timing (references). */
  def of(df: DataFrame): Digest = {
    val cols = columns(df, withStats = false)
    val r = df.agg(cols.head, cols.tail: _*).head()
    fromRow(Map("rows" -> r.getLong(0), "hash" -> r.getDecimal(1)))
  }

  def ofRows(spark: SparkSession, schema: StructType, rows: Seq[org.apache.spark.sql.Row]): Digest =
    of(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))
}
