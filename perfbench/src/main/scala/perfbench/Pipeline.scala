package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The pipeline draw and the order-insensitive output digest. */
object Pipeline {

  /** Family of an entry: its first letter (`q1_pricing_summary` and
    * `q_json_extract` are both `q`). */
  def family(name: String): String = name.take(1)

  /** ROADMAP's hot tail: always drawn, its `v` entries by the `uniform`
    * workload and its `d` entries by the `clustered` one. */
  val HotTail: Seq[String] = Seq("v_embed_clusters", "d_dedup_incremental",
    "v_ef_sweep", "d_jaccard_pairs", "d_source_overlap")

  /** What one workload's pipeline draw holds: `always` entries, plus one
    * seeded pick from each of `families`. */
  final case class DrawSpec(always: Seq[String], families: Seq[String])

  /** Picks come from the families that read no shared index or model store
    * (`q`, `m`, `s`): a pick then costs the same whichever entry ran before
    * it, so its time is its own per-query fixed cost. */
  val Draws: Map[String, DrawSpec] = Map(
    "uniform" -> DrawSpec(HotTail.filter(family(_) == "v"), Seq("q", "s")),
    "clustered" -> DrawSpec(HotTail.filter(family(_) == "d"), Seq("q", "m")))

  /** A seeded draw from `pool`: the spec's `always` entries that are in the
    * pool, plus one entry chosen uniformly from each listed family that has
    * any left. Sorted by name, so the same seed and pool always give the
    * same list in the same order. */
  def draw(pool: Seq[String], seed: Long, spec: DrawSpec): Seq[String] = {
    val rnd = new scala.util.Random(seed * 0x9e3779b97f4a7c15L + 17)
    val always = spec.always.filter(pool.contains)
    val byFamily = pool.sorted.filterNot(always.contains).groupBy(family)
    val picked = spec.families.flatMap { f =>
      byFamily.get(f).map(es => es(rnd.nextInt(es.size)))
    }
    (always ++ picked).distinct.sorted
  }

  /** Floating-point values are hashed at 9 significant digits, so partial
    * aggregates merged in a different order cannot change the digest. */
  private def normalise(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast("double")
      val scale = pow(lit(10.0), lit(8.0) - floor(log10(abs(d))))
      when(d.isNull || d.isNaN || d === 0.0 || abs(d) === Double.PositiveInfinity, d)
        .otherwise(round(d * scale) / scale)
    case ArrayType(et, _) if needsNormalising(et) =>
      transform(c, x => normalise(x, et))
    case StructType(fields) if fields.exists(f => needsNormalising(f.dataType)) =>
      struct(fields.map(f => normalise(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    // maps do not hash; their entries, sorted, do
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(normalise(e.getField("key"), kt).as("key"),
          normalise(e.getField("value"), vt).as("value"))))
    case _ => c
  }

  private def needsNormalising(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needsNormalising(et)
    case StructType(fs) => fs.exists(f => needsNormalising(f.dataType))
    case _: MapType => true
    case _ => false
  }

  /** (row count, digest): the digest is the sum of per-row 64-bit hashes
    * over every column, so it ignores row order but not row content. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f => normalise(col(s"`${f.name}`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(rowHash.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .collect()(0)
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** One line of a pipeline reference: the entry's (rows, digest), None
    * when two runs of it disagreed, and its first-run wall in seconds. */
  final case class Ref(name: String, output: Option[(Long, String)], wall: Double)

  /** Read a reference file written by [[Record]]: tab-separated name, rows,
    * digest and first-run wall per line. */
  def readReference(path: java.nio.file.Path): Seq[Ref] = {
    val src = scala.io.Source.fromFile(path.toFile)
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, d, wall) = l.split("\t")
        Ref(n, if (rows == "-") None else Some((rows.toLong, d)), wall.toDouble)
      }.toList
    finally src.close()
  }

  /** Entries the draw may pick: stable output and a first run of at most
    * `maxWall` seconds, so one run fits its time budget. The hot tail is
    * always eligible. */
  def pool(refs: Seq[Ref], known: Set[String], maxWall: Double): Seq[String] =
    refs.filter(r => known(r.name) && r.output.isDefined &&
      (r.wall <= maxWall || HotTail.contains(r.name))).map(_.name)
}
