package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.13 — multi-dimensional data LAYOUT: Z-order (Morton)
  * clustering, the storage-side lever behind "partition the 100 TB table so
  * scans skip files on EITHER predicate column".
  *
  * Single-column sort/partitioning gives tight parquet min/max footer stats
  * on ONE dimension — a predicate on any other column still reads every
  * file. Interleaving the bits of two (range-normalized) dimensions into one
  * Morton key and range-partitioning on IT bounds BOTH dimensions per file:
  * a file covering 1/2^b of the z-range spans at most ~1/2^(b/2) of each
  * dimension (each halving of the z-range fixes one more alternating
  * high bit). This is the layout technique Delta/Iceberg expose as
  * `OPTIMIZE ... ZORDER BY`; here it is plain Spark: one scalar key
  * expression + `repartitionByRange` + `sortWithinPartitions`, so files,
  * row groups, AND pages inherit the locality (public technique:
  * Morton 1966; Orenstein & Merrett PODS'84).
  *
  * Scale design: the z-value is a per-row codegen'd expression (N·bits
  * shifts — constant plan size); normalization bounds ride in as a
  * broadcast 1-row aggregate; the only wide op in the write path is the
  * range partition on the key — exactly the shuffle any clustered write
  * pays. Nothing here is corpus-size-dependent.
  */
object Layout {
  type Q = (SparkSession, String) => DataFrame

  /** Morton interleave of N pre-normalized dims, `bits` bits each,
    * round-robin (bit j of dim i lands at position j·N + i). Plain long
    * arithmetic — whole-stage-codegen'd, no UDF, no HOF; plan size is the
    * constant N·bits shifts. */
  def zValueN(dims: Seq[Column], bits: Int): Column = {
    require(dims.nonEmpty && dims.size * bits <= 63,
      s"need 1..N dims with N*bits <= 63, got ${dims.size} x $bits")
    val n = dims.size
    (for { (c, i) <- dims.zipWithIndex; j <- 0 until bits } yield
      shiftleft(shiftrightunsigned(c, j).bitwiseAND(lit(1L)), j * n + i))
      .reduce(_ + _)
  }

  /** 32-bit Morton interleave of two 16-bit dims (x at even bits, y at
    * odd) — the 2-dim instance of [[zValueN]]. */
  def zValue(x16: Column, y16: Column): Column =
    zValueN(Seq(x16, y16), 16)

  /** Min/max range normalization onto 0..65535 (the 16-bit grid the
    * interleave expects); exact for magnitudes far below 2^53. */
  def norm16(c: Column, mn: Column, mx: Column): Column =
    floor((c - mn).cast("double") * 65536.0 /
      ((mx - mn).cast("double") + 1.0)).cast("long")

  /** Min/max range normalization onto a 2^bits grid (the general form of
    * [[norm16]]); exact for magnitudes far below 2^53. */
  private def normBits(c: Column, mn: Column, mx: Column, bits: Int): Column =
    floor((c - mn).cast("double") * (1L << bits).toDouble /
      ((mx - mn).cast("double") + 1.0)).cast("long")

  /** Write `df` clustered by the z-order of `cols` (2 or more dims, like
    * Delta/Iceberg `ZORDER BY (a, b, ...)`): range-partition on the Morton
    * key, sort within partitions, drop the helper columns. Each output file
    * then covers a tight hyper-rectangle in ALL the dims, so parquet
    * min/max stats skip files for a predicate on ANY of them (locality
    * spec-asserted against a 1-dim-sorted control layout, in 2 and 3 dims).
    * Bits per dim = 63/N — precision degrades gracefully as dims grow,
    * the standard Morton trade-off. */
  def writeZOrdered(df: DataFrame, cols: Seq[String], nFiles: Int,
      dir: String): Unit =
    clusterZOrdered(df, cols, nFiles).write.mode("overwrite").parquet(dir)

  /** The clustering TRANSFORM behind [[writeZOrdered]]: `df`
    * range-partitioned and sorted on the Morton key of `cols`, helper
    * columns dropped — schema-identical to the input, so it composes
    * with any writer ([[graft.sources.CommitLog.compact]] uses it as its
    * multi-dim OPTIMIZE ZORDER path). The partition/sort order survives
    * a direct parquet write (no shuffle follows), which is what gives
    * each output file its tight per-dim extents. */
  def clusterZOrdered(df: DataFrame, cols: Seq[String],
      nFiles: Int): DataFrame = {
    require(cols.size >= 2, s"z-order needs >= 2 columns, got $cols")
    val bits = math.min(16, 63 / cols.size)
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).cast("long").as(s"__mn$i"),
        max(col(c)).cast("long").as(s"__mx$i"))
    }
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val normed = cols.zipWithIndex.map { case (c, i) =>
      normBits(col(c).cast("long"), col(s"__mn$i"), col(s"__mx$i"), bits)
    }
    df.crossJoin(broadcast(bounds))
      .withColumn("__zv", zValueN(normed, bits))
      .repartitionByRange(nFiles, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv" +: cols.indices.flatMap(i => Seq(s"__mn$i", s"__mx$i")): _*)
  }

  /** 2-dim convenience overload. */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String,
      nFiles: Int, dir: String): Unit =
    writeZOrdered(df, Seq(xCol, yCol), nFiles, dir)

  val queries: Map[String, Q] = Map(
    // Z-order bucket profile of orders on (custkey, order day): normalize
    // both dims to the 16-bit grid, interleave, split the z-space into 32
    // buckets by the top 5 z-bits, and report per-bucket extents. The
    // extents ARE the claim: every bucket is narrow in BOTH dims (top-5
    // z-bits fix y15,x15,y14,x14,y13 → x spans ≤ 1/4 and y spans ≤ 1/8 of
    // the grid), which is what makes the written layout skippable on either
    // predicate. Deterministic arithmetic => exact DuckDB oracle.
    "q_layout_zorder" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
        .select(col("o_custkey").cast("long").as("x"),
          datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
            .cast("long").as("y"))
      val bounds = o.agg(min("x").as("mnx"), max("x").as("mxx"),
        min("y").as("mny"), max("y").as("mxy"))
      o.crossJoin(broadcast(bounds))
        .withColumn("x16", norm16(col("x"), col("mnx"), col("mxx")))
        .withColumn("y16", norm16(col("y"), col("mny"), col("mxy")))
        .withColumn("bucket", shiftrightunsigned(zValue(col("x16"), col("y16")), 27))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("x16").as("min_x"), max("x16").as("max_x"),
          min("y16").as("min_y"), max("y16").as("max_y"))
        .orderBy("bucket")
    }))

  private val ZSql =
    "CAST(list_sum(list_transform(range(0, 16), i -> " +
      "(((x16 >> i) & 1) << (2*i)) + (((y16 >> i) & 1) << (2*i + 1)))) AS BIGINT)"

  val oracles: Map[String, String] = Map(
    "q_layout_zorder" ->
      ("WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS x, " +
        "CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y " +
        "FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL), " +
        "b AS (SELECT min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy FROM o), " +
        "g AS (SELECT CAST(floor((x - mnx) * 65536.0 / (mxx - mnx + 1.0)) AS BIGINT) AS x16, " +
        "CAST(floor((y - mny) * 65536.0 / (mxy - mny + 1.0)) AS BIGINT) AS y16 FROM o, b) " +
        s"SELECT $ZSql >> 27 AS bucket, count(*) AS n, " +
        "min(x16) AS min_x, max(x16) AS max_x, min(y16) AS min_y, max(y16) AS max_y " +
        "FROM g GROUP BY bucket ORDER BY bucket"))
}
