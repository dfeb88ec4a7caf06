package perfbench

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive check of a query's output, computed inside the forced
  * write itself through `Dataset.observe`, so checking an output costs a few
  * aggregates per row instead of a second execution of the query.
  *
  * Exact content: every row hashes its columns (sorted by name) with xxhash64,
  * each floating-point value replaced by whether it is null; the digest is the
  * row count plus the wrapped sums of the hashes' low and high 32-bit halves,
  * which no row order can change.
  *
  * Floating-point content: for every float or double leaf of the schema (top
  * level or inside arrays, vectors, maps and structs) the count of non-null
  * values and the sums of the values, their magnitudes and their squares.
  * These are compared with a tolerance, never bit for bit: shuffle order moves
  * both the values (by ulps) and the order they are summed in.
  */
object Digest {

  /** Count, sum, sum of magnitudes and sum of squares of one float leaf. */
  final case class Moments(n: Double, sum: Double, abs: Double, sq: Double) {
    def values: Seq[Double] = Seq(n, sum, abs, sq)
    def text: String = values.mkString(" ")
  }

  final case class Value(rows: Long, digest: String, floats: Seq[Moments]) {
    /** The leaves as text, four numbers each, `;` between leaves. */
    def floatsText: String = floats.map(_.text).mkString(";")

    /** Why `got` differs from this expected value, if it does. Each value may
      * be off by the absolute 1e-9 `tools/check.py` allows per value, and each
      * sum of n values by the rounding of summing them in another order, which
      * is below 1e-9 of the sum of magnitudes for n up to 9e6:
      * |got - expected| <= 1e-9 * (n + 2 * abs + |expected|) bounds both, for
      * each of the three sums. */
    def mismatch(got: Value): Option[String] =
      if (got.rows != rows || got.digest != digest)
        Some(s"output mismatch: rows ${got.rows} digest ${got.digest}, " +
          s"expected rows $rows digest $digest")
      else if (got.floats.size != floats.size)
        Some(s"output mismatch: ${got.floats.size} float columns, expected ${floats.size}")
      else floats.zip(got.floats).zipWithIndex.collectFirst {
        case ((e, g), i) if !close(e, g) =>
          s"output mismatch: float leaf $i is (${g.text}), expected (${e.text})"
      }

    private def close(e: Moments, g: Moments): Boolean =
      e.n == g.n && e.values.zip(g.values).forall { case (x, y) =>
        if (x.isNaN || x.isInfinite || y.isNaN || y.isInfinite) java.lang.Double.compare(x, y) == 0
        else math.abs(y - x) <= 1e-9 * (e.n + 2 * e.abs + math.abs(x))
      }
  }

  def parseFloats(text: String): Seq[Moments] =
    text.split(';').toSeq.filter(_.nonEmpty).map { leaf =>
      val Array(n, s, a, q) = leaf.split(' ').map(_.toDouble)
      Moments(n, s, a, q)
    }

  /** The exact part of a value: floats replaced by their null flag. */
  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.isNull
    case SQLDataTypes.VectorType => normalize(vector_to_array(c), ArrayType(DoubleType))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case MapType(kt, vt, _) =>
      normalize(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private val NoDoubles = array().cast(ArrayType(DoubleType))

  /** One function per float leaf of `t`, mapping a value of type `t` to the
    * array of that leaf's values in it (empty, never null, when it has none). */
  private def leaves(t: DataType): Seq[Column => Column] = t match {
    case DoubleType | FloatType => Seq(c => array(c.cast(DoubleType)))
    case SQLDataTypes.VectorType => Seq(c => coalesce(vector_to_array(c), NoDoubles))
    case ArrayType(et, _) =>
      leaves(et).map(f => (c: Column) =>
        coalesce(flatten(transform(c, x => f(x))), NoDoubles))
    case MapType(kt, vt, _) =>
      leaves(ArrayType(kt)).map(f => (c: Column) => f(map_keys(c))) ++
        leaves(ArrayType(vt)).map(f => (c: Column) => f(map_values(c)))
    case StructType(fs) =>
      fs.toSeq.flatMap(fd => leaves(fd.dataType).map(f => (c: Column) => f(c.getField(fd.name))))
    case _ => Nil
  }

  /** The four moments of one float leaf, as aggregates over the rows. */
  private def moments(c: Column, t: DataType, i: Int): Seq[Column] = {
    val aggs = t match {
      case DoubleType | FloatType =>
        val x = c.cast(DoubleType)
        Seq(count(x), sum(x), sum(abs(x)), sum(x * x))
      case _ =>
        def fold(g: Column => Column) =
          aggregate(c, lit(0.0), (acc, x) => acc + coalesce(g(x), lit(0.0)))
        Seq(sum(size(filter(c, _.isNotNull))), sum(fold(x => x)), sum(fold(abs)),
          sum(fold(x => x * x)))
    }
    aggs.zipWithIndex.map { case (m, j) => coalesce(m.cast(DoubleType), lit(0.0)).as(s"f${i}_$j") }
  }

  /** `df` with the check attached; read it with [[read]] after an action. */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val fields = df.schema.fields.sortBy(_.name).toSeq
      .map(f => (df.col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val cols = fields.map { case (c, t) => normalize(c, t) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val mask = lit(0xffffffffL)
    val floats = fields.flatMap { case (c, t) =>
      t match {
        case DoubleType | FloatType => Seq((c, t))
        case _ => leaves(t).map(f => (f(c), ArrayType(DoubleType)))
      }
    }.zipWithIndex.flatMap { case ((c, t), i) => moments(c, t, i) }
    df.observe(obs,
      count(lit(1)).as("rows"),
      (Seq(coalesce(sum(h.bitwiseAND(mask)), lit(0L)).as("lo"),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi")) ++ floats): _*)
  }

  def read(obs: Observation): Value = {
    val m = obs.get
    def l(k: String): Long = m(k).asInstanceOf[Number].longValue
    def d(k: String): Double = m(k).asInstanceOf[Number].doubleValue
    val leaves = Iterator.from(0).takeWhile(i => m.contains(s"f${i}_0"))
      .map(i => Moments(d(s"f${i}_0"), d(s"f${i}_1"), d(s"f${i}_2"), d(s"f${i}_3"))).toSeq
    Value(l("rows"), f"${l("hi")}%016x${l("lo")}%016x", leaves)
  }
}
