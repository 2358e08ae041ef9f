package nrtbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic payload: every generated column is a function of
  * (seed, key, revision), computed by Spark when inputs are written and
  * replicated here in plain Scala when outputs are checked. Integer
  * arithmetic only, so both sides agree exactly.
  */
final class Mix(seed: Long) {
  private val s = Math.floorMod(seed, 1000003L)
  private val P = 1000000007L

  def h(id: Long, rev: Int, salt: Int): Long =
    Math.floorMod(id * 2654435761L + rev * 40503L + salt * 97L + s * 7919L, P)

  def hc(id: Column, rev: Column, salt: Int): Column =
    pmod(id * lit(2654435761L) + rev.cast(LongType) * lit(40503L) +
      lit(salt * 97L + s * 7919L), lit(P))
}

/** Rendering used to compare a result row with its expected values. */
object Render {
  def apply(values: Seq[Any]): String = values.map(String.valueOf).mkString("|")
  def row(r: Row): String = apply(r.toSeq)
}

/** A table shape: key column, payload columns as Spark expressions over
  * (`id`, `rev`[, `ts`]) and their plain-Scala replica.
  */
final case class Shape(prefix: String, mix: Mix, withTs: Boolean) {
  val key = s"${prefix}_id"
  val cols: Seq[String] =
    Seq(key, s"${prefix}_amount", s"${prefix}_code", s"${prefix}_note", s"${prefix}_rev") ++
      (if (withTs) Seq(s"${prefix}_ts") else Nil)

  /** `idRev` has columns id, rev (and ts in epoch seconds when withTs);
    * `keep` names further columns of it to carry through.
    */
  def frame(idRev: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val id = col("id"); val rev = col("rev")
    val base = Seq(
      id.as(key),
      mix.hc(id, rev, 1).as(s"${prefix}_amount"),
      (mix.hc(id, rev, 2) % 97).cast(IntegerType).as(s"${prefix}_code"),
      concat(lit(prefix), id, lit("r"), rev, lit("-"), mix.hc(id, rev, 3) % 100000)
        .as(s"${prefix}_note"),
      rev.as(s"${prefix}_rev"))
    idRev.select(base ++ (if (withTs) Seq(timestamp_seconds(col("ts")).as(s"${prefix}_ts")) else Nil) ++
      keep.map(col): _*)
  }

  def values(id: Long, rev: Int, ts: Long = 0L): Seq[Any] =
    Seq(id, mix.h(id, rev, 1), (mix.h(id, rev, 2) % 97).toInt,
      s"$prefix${id}r$rev-${mix.h(id, rev, 3) % 100000}", rev) ++
      (if (withTs) Seq(new Timestamp(ts * 1000L)) else Nil)

  def amount(id: Long, rev: Int): Long = mix.h(id, rev, 1)
}

/** The large CT entity: lineitem-shaped, with a synthetic unique key.
  * (At sf0.1, (l_orderkey, l_linenumber) holds 456,861 distinct values in
  * 600,000 rows; as a primary key it aborts the first incremental MERGE
  * with a multiple-match error.)
  */
final case class LineitemShape(mix: Mix) {
  val key = "l_id"
  val cols = Seq("l_id", "l_orderkey", "l_partkey", "l_quantity", "l_price_cents",
    "l_shipdate", "l_comment", "l_rev")

  def frame(idRev: DataFrame): DataFrame = {
    val id = col("id"); val rev = col("rev")
    idRev.select(
      id.as("l_id"),
      expr("(id - 1) div 4 + 1").as("l_orderkey"),
      (mix.hc(id, rev, 1) % 200000 + 1).as("l_partkey"),
      (mix.hc(id, rev, 2) % 50 + 1).cast(IntegerType).as("l_quantity"),
      (mix.hc(id, rev, 3) % 10000000).as("l_price_cents"),
      date_add(lit("1992-01-01").cast(DateType), (mix.hc(id, rev, 4) % 2500).cast(IntegerType))
        .as("l_shipdate"),
      concat(lit("c"), id, lit("r"), rev, lit("-"), mix.hc(id, rev, 5) % 100000).as("l_comment"),
      rev.as("l_rev"))
  }

  def values(id: Long, rev: Int): Seq[Any] =
    Seq(id, (id - 1) / 4 + 1, mix.h(id, rev, 1) % 200000 + 1, (mix.h(id, rev, 2) % 50 + 1).toInt,
      mix.h(id, rev, 3) % 10000000,
      Date.valueOf(LocalDate.of(1992, 1, 1).plusDays(mix.h(id, rev, 4) % 2500)),
      s"c${id}r$rev-${mix.h(id, rev, 5) % 100000}", rev)

  def quantity(id: Long, rev: Int): Long = mix.h(id, rev, 2) % 50 + 1
  def price(id: Long, rev: Int): Long = mix.h(id, rev, 3) % 10000000
}

/** Writing generated inputs: every file is written to a scratch
  * directory and renamed into place, so a reader never sees a partial
  * file and the rename is the moment the change is committed.
  */
final class Writer(spark: SparkSession, scratch: String) {
  private var n = 0

  val idRevSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("rev", IntegerType, nullable = false)))
  val idRevTsSchema = StructType(idRevSchema.fields :+ StructField("ts", LongType, nullable = false))

  def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Write `df` as ONE parquet file and rename it to `target`. */
  def single(df: DataFrame, target: String): Unit = {
    val parts = write(df.coalesce(1))
    require(parts.size == 1, s"expected one file for $target, got ${parts.size}")
    move(parts.head, target)
    Main.deleteTree(parts.head.getParent.toFile)
  }

  /** Write `df` and return its part files ordered by partition index. */
  def write(df: DataFrame): Seq[java.nio.file.Path] = {
    n += 1
    val dir = Paths.get(scratch, s"w$n")
    df.write.parquet(dir.toString)
    Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString)
  }

  def move(from: java.nio.file.Path, target: String): Unit = {
    val t = Paths.get(target)
    Files.createDirectories(t.getParent)
    Files.move(from, t, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** CT change-log rows: (key, version, operation). */
  def changes(keyCol: String, rows: Seq[(Long, Long, String)]): DataFrame =
    local(rows.map { case (k, v, op) => Row(k, v, op) }, StructType(Seq(
      StructField(keyCol, LongType, nullable = false),
      StructField("SYS_CHANGE_VERSION", LongType, nullable = false),
      StructField("SYS_CHANGE_OPERATION", StringType, nullable = false))))
}

object Check {
  /** Multiset equality of two frames with the same columns, in one
    * aggregation: every distinct row's count in `a` minus its count in
    * `b` must be zero.
    */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.withColumn("__w", lit(1L)).unionByName(b.withColumn("__w", lit(-1L)))
      .groupBy(a.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).agg(sum("__w").as("__d"))
      .filter(col("__d") =!= 0).isEmpty
}
