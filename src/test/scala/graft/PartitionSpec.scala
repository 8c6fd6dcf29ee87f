package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.CommitLog

/** Partition columns + generated columns on graft.commitlog (r19 —
  * VERDICT r18 #1/#2): spec'd against the library verbs and the catalog
  * SQL faces. Partition values STAY IN the parquet files (the Iceberg
  * choice), so every read route is correct with or without pruning; the
  * proofs below assert the PLANNED file set, not just rows. */
class PartitionSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-part").toString

  private lazy val catRoot = Files.createTempDirectory("graft-part-cat").toString

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.gpart", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpart.dir", catRoot)
  }

  /** Files the executed plan actually scanned (fresh-DF rule: the
    * one-shot numFiles metric reads 0 on a re-collected plan). Covers
    * both routes: the options route plans FileSourceScanExec, the
    * catalog route a DSv2 BatchScan over a (dir-pruned) ParquetScan. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[org.apache.spark.sql.execution
            .datasources.v2.parquet.ParquetScan] =>
        b.scan.toBatch.planInputPartitions().iterator.map {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.length.toLong
          case _ => 0L
        }.sum
    }.getOrElse(fail("no file scan in the executed plan"))
  }

  private def day(i: Int): String = f"2024-01-$i%02d"

  test("partitioned appends stage one dir per tuple with exact recorded values") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq.empty[(String, Long, String)].toDF("day", "id", "v").repartition(1)
    }
    CommitLog.setPartitionBy(spark, root, "w", Seq("day"))
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((day(1), 1L, "a"), (day(1), 2L, "b"), (day(2), 3L, "c"))
        .toDF("day", "id", "v"))
    val head = CommitLog.latest(spark, root).get
    assert(head.partitionBy == Seq("day"))
    // one new dir per present tuple, each with its exact value recorded
    val vals = head.partVals.values.map(_.head).toSet
    assert(vals == Set(day(1), day(2)), s"partVals: ${head.partVals}")
    // partition columns stay IN the files: a plain read returns full rows
    val got = rows(CommitLog.readLatest(spark, root).get.orderBy("id"))
    assert(got == Seq(Seq(day(1), 1L, "a"), Seq(day(1), 2L, "b"),
      Seq(day(2), 3L, "c")))
    // exact per-dir row counts recorded for every data dir (r19 #4)
    assert(head.dataDirs.forall(d => head.rows.contains(d)),
      s"rows: ${head.rows}")
    assert(head.rows.values.sum == 3L)
  }

  test("a partition-filtered connector read plans ONLY the matching partition's dirs") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq.empty[(String, Long)].toDF("day", "n").repartition(1)
    }
    CommitLog.setPartitionBy(spark, root, "w", Seq("day"))
    // three days, two append batches each → 6 data dirs + the empty seed
    for (b <- 1 to 2; d <- 1 to 3)
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((day(d), (10 * b + d).toLong)).toDF("day", "n").repartition(1))
    val head = CommitLog.latest(spark, root).get
    val d2dirs = head.partVals.collect {
      case (dir, Seq(v)) if v == day(2) => dir }.toSet
    assert(d2dirs.size == 2, s"partVals: ${head.partVals}")
    def read() = spark.read.format("graft.commitlog").load(root)
    // equality: exactly day(2)'s two dirs (one file each) — the empty
    // seed dir drops on its recorded 0 rows
    assert(scannedFiles(read().filter(col("day") === day(2))) == 2L,
      "day-equality must plan only the matching partition's files")
    // IN set: days 1 and 3 → 4 files
    assert(scannedFiles(read().filter(col("day").isin(day(1), day(3)))) == 4L)
    // a non-partition filter plans every non-empty dir (no false pruning)
    assert(scannedFiles(read().filter(col("n") === 11L)) == 6L)
    // rows stay exact under pruning
    assert(rows(read().filter(col("day") === day(2)).orderBy("n")) ==
      Seq(Seq(day(2), 12L), Seq(day(2), 22L)))
  }

  test("a one-day replaceWhere rewrites only that partition; others carry byte-identical") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq.empty[(String, Long)].toDF("day", "n").repartition(1)
    }
    CommitLog.setPartitionBy(spark, root, "w", Seq("day"))
    for (d <- 1 to 3)
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((day(d), d.toLong), (day(d), d + 100L)).toDF("day", "n")
          .repartition(1))
    val before = CommitLog.latest(spark, root).get
    val untouched = before.partVals.collect {
      case (dir, Seq(v)) if v != day(2) => dir }.toSet
    val fileOf = untouched.map { d =>
      val fs = new java.io.File(s"$root/$d").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      d -> fs.map(f => (f.getName, f.length, f.lastModified)).toSet
    }.toMap
    // restate day 2
    CommitLog.replaceWhere(spark, root, "w", col("day") === day(2),
      Seq((day(2), 999L)).toDF("day", "n"))
    val after = CommitLog.latest(spark, root).get
    // every non-day-2 dir carried byte-identical (same files untouched)
    untouched.foreach { d =>
      assert(after.dataDirs.contains(d), s"$d must carry")
      val now = new java.io.File(s"$root/$d").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
      assert(now == fileOf(d), s"$d must carry byte-identical")
    }
    // day-2 dirs are gone from the head; the restated dir records day 2
    assert(before.partVals.exists { case (dir, vs) =>
      vs == Seq(day(2)) && !after.dataDirs.contains(dir) })
    val restated = after.dataDirs.filterNot(before.dataDirs.contains)
    assert(restated.nonEmpty &&
      restated.forall(d => after.partVals.get(d).contains(Seq(day(2)))),
      s"restated dirs must record day 2: ${after.partVals}")
    assert(rows(CommitLog.readLatest(spark, root).get
      .filter(col("day") === day(2))) == Seq(Seq(day(2), 999L)))
    // the restatement's change feed still rides (multi-dir feed key)
    val feed = CommitLog.changesSince(spark, root, before.version)
    assert(feed.isDefined, "replaceWhere on a partitioned table must feed")
    assert(feed.get.filter(col("_change_type") === "insert").count() == 1L)
  }

  test("partitioning declares only on empty tables; null partition values refuse") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq(("x", 1L)).toDF("day", "n") }
    intercept[IllegalArgumentException] {
      CommitLog.setPartitionBy(spark, root, "w", Seq("day"))
    }
    val root2 = freshRoot()
    CommitLog.commit(spark, root2, "w", "create") { _ =>
      Seq.empty[(String, Long)].toDF("day", "n").repartition(1) }
    CommitLog.setPartitionBy(spark, root2, "w", Seq("day"))
    intercept[IllegalArgumentException] {
      CommitLog.commitAppend(spark, root2, "w", "append")(
        Seq((null.asInstanceOf[String], 1L)).toDF("day", "n"))
    }
    // a partition-unaware binary must refuse to WRITE (feature-gated)
    val head = CommitLog.latest(spark, root2).get
    assert(CommitLog.gatedWriterFeatures(head).contains("partitioning"))
    // a PRE-r19 empty table records no per-dir `rows` entry — the
    // emptiness gate falls back to a footer count instead of treating
    // absence as non-empty (code review r19: the strict form locked
    // genuinely empty legacy tables out of the declaration forever)
    val root3 = freshRoot()
    CommitLog.commit(spark, root3, "w", "create") { _ =>
      Seq.empty[(String, Long)].toDF("day", "n").repartition(1) }
    val headFile = java.nio.file.Paths.get(root3, "_commits",
      "v" + "%020d".format(1L) + ".json")
    val txt = new String(java.nio.file.Files.readAllBytes(headFile), "UTF-8")
    assert(txt.contains("\"rows\":"), s"fixture: $txt")
    java.nio.file.Files.write(headFile,
      txt.replaceAll(""","rows":\{[^}]*\}""", "").getBytes("UTF-8"))
    assert(CommitLog.latest(spark, root3).get.rows.isEmpty,
      "fixture: the forged legacy head must carry no rows map")
    CommitLog.setPartitionBy(spark, root3, "w", Seq("day"))
    assert(CommitLog.latest(spark, root3).get.partitionBy == Seq("day"))
    // a RESERVED-shadow physical column refuses before any staging
    // write (it would be silently overwritten then stripped)
    val root4 = freshRoot()
    CommitLog.commit(spark, root4, "w", "create") { _ =>
      Seq.empty[(String, Long)].toDF("day", "__gp0").repartition(1) }
    CommitLog.setPartitionBy(spark, root4, "w", Seq("day"))
    intercept[IllegalArgumentException] {
      CommitLog.commitAppend(spark, root4, "w", "append")(
        Seq(("d1", 1L)).toDF("day", "__gp0"))
    }
  }

  test("SQL: CREATE PARTITIONED BY + INSERT + OVERWRITE PARTITION route through the verbs") {
    ensureCatalog()
    spark.sql("CREATE TABLE gpart.part_events (day STRING, id BIGINT, " +
      "v STRING) USING `graft.commitlog` PARTITIONED BY (day)")
    try {
      val loc = catRoot + "/part_events"
      assert(CommitLog.latest(spark, loc).get.partitionBy == Seq("day"))
      spark.sql("INSERT INTO gpart.part_events VALUES " +
        s"('${day(1)}', 1, 'a'), ('${day(2)}', 2, 'b'), ('${day(2)}', 3, 'c')")
      // the catalog table reports its partitioning (DESCRIBE face)
      import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
      val cat = spark.sessionState.catalogManager.catalog("gpart")
        .asInstanceOf[TableCatalog]
      val t = cat.loadTable(Identifier.of(Array.empty, "part_events"))
      assert(t.partitioning().map(_.describe()).toSeq == Seq("day") &&
        t.partitioning().forall(_.name() == "identity"),
        t.partitioning().mkString(", "))
      // partition-filtered read through the NAME plans only day 2's dirs
      val head = CommitLog.latest(spark, loc).get
      val d2files = head.partVals.collect {
        case (dir, Seq(v)) if v == day(2) => dir }.toSet
      assert(d2files.nonEmpty)
      val q = spark.table("gpart.part_events")
        .filter(col("day") === day(2))
      assert(scannedFiles(q) < head.dataDirs.size,
        "partition filter must prune dirs through the catalog route")
      assert(rows(spark.table("gpart.part_events")
        .filter(col("day") === day(2)).select("id").orderBy("id")) ==
        Seq(Seq(2L), Seq(3L)))
      // static INSERT OVERWRITE ... PARTITION restates ONLY that day
      val before = CommitLog.latest(spark, loc).get
      val d1dir = before.partVals.collect {
        case (dir, Seq(v)) if v == day(1) => dir }.toSet
      spark.sql("INSERT OVERWRITE gpart.part_events " +
        s"PARTITION (day = '${day(2)}') SELECT 9L, 'z'")
      val after = CommitLog.latest(spark, loc).get
      assert(d1dir.subsetOf(after.dataDirs.toSet),
        "day-1 dirs must carry through a day-2 partition overwrite")
      assert(rows(spark.table("gpart.part_events").orderBy("id")
        .select("day", "id", "v")) ==
        Seq(Seq(day(1), 1L, "a"), Seq(day(2), 9L, "z")))
    } finally spark.sql("DROP TABLE gpart.part_events")
  }

  test("generated columns: omitted materializes, conflicting refuses, stats prune") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq.empty[(Long, Long)].toDF("id", "bucket").repartition(1) }
    CommitLog.setGeneratedColumns(spark, root, "w",
      Seq("bucket" -> "id % 10"))
    // an append OMITTING the generated column materializes it
    CommitLog.commitAppend(spark, root, "w", "append",
      statsCols = Seq("bucket"))(Seq(15L, 27L).toDF("id"))
    assert(rows(CommitLog.readLatest(spark, root).get.orderBy("id")) ==
      Seq(Seq(15L, 5L), Seq(27L, 7L)))
    // a conflicting explicit value refuses before any commit
    val before = CommitLog.latest(spark, root).get.version
    intercept[IllegalArgumentException] {
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((33L, 9L)).toDF("id", "bucket"))
    }
    assert(CommitLog.latest(spark, root).get.version == before)
    // a CORRECT explicit value lands
    CommitLog.commitAppend(spark, root, "w", "append",
      statsCols = Seq("bucket"))(Seq((33L, 3L)).toDF("id", "bucket"))
    assert(CommitLog.latest(spark, root).get.rows.values.sum == 3L)
    // recorded stats on the generated column prune dirs like any other
    assert(CommitLog.gatedWriterFeatures(
      CommitLog.latest(spark, root).get).contains("generated"))
    val pruned = spark.read.format("graft.commitlog").load(root)
      .filter(col("bucket") === 3L)
    assert(rows(pruned) == Seq(Seq(33L, 3L)))
    // a generated column declared MID-schema: omit-and-materialize must
    // land it at its declared position (code review r19 — the
    // materialized column lands LAST in the frame; without the
    // re-projection the positional schema check refused every
    // legitimate append on such a table)
    val root2 = freshRoot()
    CommitLog.commit(spark, root2, "w", "create") { _ =>
      Seq.empty[(Long, Long, String)].toDF("id", "bucket", "v")
        .repartition(1) }
    CommitLog.setGeneratedColumns(spark, root2, "w",
      Seq("bucket" -> "id % 10"))
    CommitLog.commitAppend(spark, root2, "w", "append")(
      Seq((15L, "a"), (27L, "b")).toDF("id", "v"))
    assert(rows(CommitLog.readLatest(spark, root2).get.orderBy("id")) ==
      Seq(Seq(15L, 5L, "a"), Seq(27L, 7L, "b")),
      "the materialized mid-schema column must sit at its position")
    // the full-rewrite verb conforms through the same path
    CommitLog.commit(spark, root2, "w", "rewrite") { cur =>
      cur.get.filter(col("id") === 15L).drop("bucket") }
    assert(rows(CommitLog.readLatest(spark, root2).get) ==
      Seq(Seq(15L, 5L, "a")))
    // guards added by the r19 review, each loud: a SESSION-dependent
    // generation would enforce inconsistently writer-to-writer and
    // mis-fold derived partition probes; widening a generated column or
    // its INPUT would break every later omit-and-materialize append
    // with a misleading schema-mismatch error
    val root3 = freshRoot()
    CommitLog.commit(spark, root3, "w", "create") { _ =>
      Seq.empty[(Int, Int, String)].toDF("i", "b", "day").repartition(1) }
    intercept[IllegalArgumentException] {
      CommitLog.setGeneratedColumns(spark, root3, "w",
        Seq("day" -> "CAST(current_date() AS STRING)")) }
    CommitLog.setGeneratedColumns(spark, root3, "w", Seq("b" -> "i % 5"))
    intercept[IllegalArgumentException] { // the generated column itself
      CommitLog.widenColumnType(spark, root3, "w", Seq("b"),
        org.apache.spark.sql.types.LongType) }
    intercept[IllegalArgumentException] { // its input
      CommitLog.widenColumnType(spark, root3, "w", Seq("i"),
        org.apache.spark.sql.types.LongType) }
  }

  test("SQL: GENERATED ALWAYS AS at CREATE round-trips through INSERT and MERGE") {
    ensureCatalog()
    spark.sql("CREATE TABLE gpart.gen_docs (id BIGINT, day STRING, " +
      "bucket BIGINT GENERATED ALWAYS AS (id % 4)) USING `graft.commitlog`")
    try {
      val loc = catRoot + "/gen_docs"
      assert(CommitLog.latest(spark, loc).get.gens ==
        Seq("bucket" -> "id % 4"))
      spark.sql("INSERT INTO gpart.gen_docs VALUES (6, 'd1', 2), (9, 'd2', 1)")
      assert(rows(spark.table("gpart.gen_docs").orderBy("id")
        .select("id", "bucket")) == Seq(Seq(6L, 2L), Seq(9L, 1L)))
      // a violating INSERT refuses loudly, nothing commits
      val v = CommitLog.latest(spark, loc).get.version
      intercept[Exception] {
        spark.sql("INSERT INTO gpart.gen_docs VALUES (7, 'd3', 0)")
      }
      assert(CommitLog.latest(spark, loc).get.version == v)
      // MERGE validates its landing rows against the expression too
      spark.sql("MERGE INTO gpart.gen_docs t USING (SELECT 6L AS id, " +
        "'D1' AS day, 2L AS bucket) s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET t.day = s.day " +
        "WHEN NOT MATCHED THEN INSERT *")
      assert(rows(spark.table("gpart.gen_docs").filter(col("id") === 6L)
        .select("day", "bucket")) == Seq(Seq("D1", 2L)))
    } finally spark.sql("DROP TABLE gpart.gen_docs")
  }

  test("dv-fold statistics: an unknown prior vectored share stays unknown — never a wrong exact count (code review r19)") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      (0L until 10L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1) }
    // dv delete #1: the vectored share records exactly
    CommitLog.delete(spark, root, "w", col("k") === 1L, dvMaxFraction = 0.99)
    val h1 = CommitLog.latest(spark, root).get
    assert(h1.dv.nonEmpty && h1.dvRows.values.sum == 1L)
    assert(graft.sources.CommitLogCatalogTable.exactVisibleRows(h1)
      .contains(9L))
    // a merge-on-read MERGE folds the dir's vector and DROPS its dvRows
    // entry (the documented degrade: the folded share has no per-dir
    // count in hand)
    CommitLog.merge(spark, root, "w", "k", Seq((3L, "Z")).toDF("k", "v"),
      dvMaxFraction = 0.99)
    val h2 = CommitLog.latest(spark, root).get
    assert(h2.dv.nonEmpty && !h2.dv.keySet.forall(h2.dvRows.contains),
      s"fixture: the merge must leave a dv-bearing dir without a " +
        s"count, got dv=${h2.dv} dvRows=${h2.dvRows}")
    assert(graft.sources.CommitLogCatalogTable.exactVisibleRows(h2).isEmpty,
      "an unknown vectored share must degrade the exact statistic")
    // dv delete #2 on the SAME dir: the unknown share must STAY unknown
    // — re-seeding the count at 0 + 1 would report a confidently WRONG
    // exact row count to join planning
    CommitLog.delete(spark, root, "w", col("k") === 2L, dvMaxFraction = 0.99)
    val h3 = CommitLog.latest(spark, root).get
    assert(graft.sources.CommitLogCatalogTable.exactVisibleRows(h3).isEmpty,
      s"the re-vectored dir must not resurrect an exact count: " +
        s"rows=${h3.rows} dvRows=${h3.dvRows}")
    // the data itself stays right throughout
    assert(CommitLog.readLatest(spark, root).get.count() == 8L)
    assert(CommitLog.readLatest(spark, root).get
      .filter(col("k") === 3L).head().getString(1) == "Z")
  }

  test("generated column AS partition column: the derive-a-bucket story composes end to end (r19)") {
    import spark.implicits._
    // the PARTITIONED BY refusal for transforms tells users to "derive
    // bucket columns as GENERATED" — prove that composition: a write
    // omitting the generated partition column gets it materialized from
    // the recorded expression FIRST, then stages split per its value
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq.empty[(Long, String, Long)].toDF("id", "nm", "bucket")
        .repartition(1) }
    CommitLog.setGeneratedColumns(spark, root, "w", Seq("bucket" -> "id % 3"))
    CommitLog.setPartitionBy(spark, root, "w", Seq("bucket"))
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "nm"))
    val head = CommitLog.latest(spark, root).get
    val liveVals = head.partVals.collect {
      case (dir, vs) if head.rows.get(dir).exists(_ > 0L) => vs }
    assert(liveVals.map(_.head).toSeq.sorted == Seq("0", "1", "2"),
      s"one staged dir per materialized bucket value: ${head.partVals}")
    // a partition filter on the GENERATED column prunes to its dirs
    val q = spark.read.format("graft.commitlog").load(root)
      .filter(col("bucket") === 1L)
    assert(rows(q.select("id").orderBy("id")) == Seq(Seq(1L), Seq(4L)))
    assert(scannedFiles(q) <
      scannedFiles(spark.read.format("graft.commitlog").load(root)),
      "the bucket filter must plan only bucket-1 dirs")
    // the one-statement SQL face: GENERATED + PARTITIONED BY together
    ensureCatalog()
    spark.sql("CREATE TABLE gpart.gen_part (id BIGINT, nm STRING, " +
      "bucket BIGINT GENERATED ALWAYS AS (id % 4)) " +
      "USING `graft.commitlog` PARTITIONED BY (bucket)")
    try {
      val loc = catRoot + "/gen_part"
      val h0 = CommitLog.latest(spark, loc).get
      assert(h0.gens == Seq("bucket" -> "id % 4") &&
        h0.partitionBy == Seq("bucket"),
        s"one CREATE records both specs: ${h0.gens} / ${h0.partitionBy}")
      spark.sql("INSERT INTO gpart.gen_part VALUES " +
        "(6, 'x', 2), (9, 'y', 1), (10, 'z', 2)")
      val h1 = CommitLog.latest(spark, loc).get
      assert(h1.partVals.collect {
        case (dir, vs) if h1.rows.get(dir).exists(_ > 0L) => vs.head
      }.toSeq.sorted == Seq("1", "2"),
        s"the insert stages one dir per generated bucket: ${h1.partVals}")
      // a row violating the generation refuses before any commit
      val v = CommitLog.latest(spark, loc).get.version
      intercept[Exception] {
        spark.sql("INSERT INTO gpart.gen_part VALUES (7, 'w', 0)") }
      assert(CommitLog.latest(spark, loc).get.version == v)
      assert(rows(spark.table("gpart.gen_part")
        .filter(col("bucket") === 2L).select("id").orderBy("id")) ==
        Seq(Seq(6L), Seq(10L)))
    } finally spark.sql("DROP TABLE gpart.gen_part")
  }

  test("generated-input partition pruning: a filter on the generation INPUT alone prunes the generated partitions (r19)") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq.empty[(Long, String, String)].toDF("id", "ts", "day")
        .repartition(1) }
    CommitLog.setGeneratedColumns(spark, root, "w",
      Seq("day" -> "substring(ts, 1, 10)"))
    CommitLog.setPartitionBy(spark, root, "w", Seq("day"))
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((1L, s"${day(1)}T08:00:00"), (2L, s"${day(1)}T09:00:00"),
        (3L, s"${day(2)}T08:00:00"), (4L, s"${day(3)}T10:00:00"))
        .toDF("id", "ts"))
    val head = CommitLog.latest(spark, root).get
    assert(head.partVals.collect {
      case (d, vs) if head.rows.get(d).exists(_ > 0L) => vs.head
    }.toSeq.sorted == Seq(day(1), day(2), day(3)))
    def read = spark.read.format("graft.commitlog").load(root)
    val full = scannedFiles(read)
    // the query pins the INPUT, never naming the partition column —
    // the recorded generation expression folded at the literal implies
    // day = day(2), so only that partition's dirs plan
    val q = read.filter(col("ts") === s"${day(2)}T08:00:00")
    assert(rows(q.select("id")) == Seq(Seq(3L)))
    assert(scannedFiles(q) < full,
      s"a pinned generation input must prune generated partitions " +
        s"(${scannedFiles(q)} vs $full)")
    // an IN set folds per element; the derived keep-set is their union
    val q2 = read.filter(col("ts").isin(
      s"${day(1)}T08:00:00", s"${day(3)}T10:00:00"))
    assert(rows(q2.select("id").orderBy("id")) == Seq(Seq(1L), Seq(4L)))
    assert(scannedFiles(q2) < full,
      "the IN probe must drop the unmentioned day")
    // shapes the probe cannot serve stay correct on the full plan:
    // ranges derive nothing (substring is not order-preserving evidence)
    assert(rows(read.filter(col("ts") > s"${day(2)}")
      .select("id").orderBy("id")) == Seq(Seq(3L), Seq(4L)))
    // and an explicit filter on BOTH input and partition column
    // intersects evidence soundly
    val q3 = read.filter(col("ts") === s"${day(2)}T08:00:00" &&
      col("day") === day(2))
    assert(rows(q3.select("id")) == Seq(Seq(3L)))
    assert(scannedFiles(q3) < full)
  }

  test("partition + rows + gens fields round-trip the commit JSON verbatim") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq.empty[(String, Long)].toDF("day", "n").repartition(1) }
    CommitLog.setPartitionBy(spark, root, "w", Seq("day"))
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq(("a b%c", 1L)).toDF("day", "n"))
    // a value with a space and a % survives the hive path escaping
    val head = CommitLog.latest(spark, root).get
    assert(head.partVals.values.toSeq.contains(Seq("a b%c")),
      s"partVals: ${head.partVals}")
    assert(rows(spark.read.format("graft.commitlog").load(root)
      .filter(col("day") === "a b%c")) == Seq(Seq("a b%c", 1L)))
  }

  test("exact row-count statistics broadcast a dim the size estimate would shuffle") {
    import spark.implicits._
    val root = freshRoot()
    // a SMALL dim written as MANY files: footer overhead makes the
    // on-disk bytes estimate large while the actual rows are tiny
    CommitLog.commit(spark, root, "w", "create") { _ =>
      (0L until 64L).map(i => (i, s"n$i")).toDF("k", "nm").repartition(64)
    }
    val head = CommitLog.latest(spark, root).get
    assert(head.rows.values.sum == 64L)
    val exact = graft.sources.CommitLogCatalogTable.exactVisibleRows(head)
    assert(exact.contains(64L))
    val fileBytes = new java.io.File(s"$root/${head.dataDirs.head}")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // pick a threshold BETWEEN the exact in-memory size and the file
    // bytes: only the recorded row count can justify the broadcast
    val exactBytes = 64L * 40L
    assert(fileBytes > 4 * exactBytes, s"fixture: fileBytes=$fileBytes")
    val threshold = (fileBytes + exactBytes) / 2
    ensureCatalog()
    spark.sql("CREATE TABLE gpart.stats_dim (k BIGINT, nm STRING) USING " +
      s"`graft.commitlog` LOCATION '$root'")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        threshold.toString)
      // facts big enough that ONLY the dim is broadcast-eligible
      val facts = spark.range(200000L)
        .select((col("id") % 64L).as("k"), col("id").as("x"))
      def joined = facts.join(spark.table("gpart.stats_dim"), "k")
      assert(physicalPlan(joined).contains("BroadcastHashJoin"),
        s"exact rowCount must broadcast the dim:\n${physicalPlan(joined)}")
      // control: the OPTIONS route reports file bytes (no exact count
      // wiring) — the same dim under the same threshold shuffles, so the
      // broadcast above was the row count's doing
      val viaOptions = facts.join(
        spark.read.format("graft.commitlog").load(root), "k")
      assert(!physicalPlan(viaOptions).contains("BroadcastHashJoin"),
        "control: the size estimate alone must NOT broadcast")
      // the count SURVIVES colmap (rename activates the mapping → the
      // V1 DV-aware route) and dv (vectored deletes subtract)
      CommitLog.renameColumn(spark, root, "w", Seq("nm"), "name")
      CommitLog.delete(spark, root, "w", col("k") >= 32L,
        dvMaxFraction = 0.99)
      val h2 = CommitLog.latest(spark, root).get
      assert(h2.colMap.nonEmpty && h2.dv.nonEmpty, s"fixture: ${h2.dv}")
      assert(graft.sources.CommitLogCatalogTable.exactVisibleRows(h2)
        .contains(32L), s"rows=${h2.rows} dvRows=${h2.dvRows}")
      def joined2 = facts.join(spark.table("gpart.stats_dim"), "k")
      assert(physicalPlan(joined2).contains("BroadcastHashJoin"),
        s"exact count must survive dv+colmap:\n${physicalPlan(joined2)}")
      assert(joined2.count() === 100000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE gpart.stats_dim")
    }
  }

  test("compaction packs per partition and keeps exact identity") {
    import spark.implicits._
    val root = freshRoot()
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq.empty[(String, Long)].toDF("day", "n").repartition(1) }
    CommitLog.setPartitionBy(spark, root, "w", Seq("day"))
    for (b <- 1 to 3; d <- 1 to 2)
      CommitLog.commitAppend(spark, root, "w", "append")(
        Seq((day(d), (10 * b + d).toLong)).toDF("day", "n").repartition(1))
    val packed = CommitLog.compact(spark, root, "w").get
    assert(packed.rowInvisible)
    // every packed dir still records exact partition identity
    val dataDirs = packed.dataDirs.filterNot(d =>
      packed.rows.get(d).contains(0L))
    assert(dataDirs.nonEmpty &&
      dataDirs.forall(d => packed.partVals.contains(d)),
      s"packed dirs must keep partition identity: ${packed.partVals}")
    // pruning still plans only the matching partition
    val q = spark.read.format("graft.commitlog").load(root)
      .filter(col("day") === day(1))
    assert(rows(q.select("n").orderBy("n")) ==
      Seq(Seq(11L), Seq(21L), Seq(31L)))
    val d1dirs = packed.partVals.collect {
      case (dir, Seq(v)) if v == day(1) => dir }.toSet
    assert(d1dirs.nonEmpty)
  }
}
