package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.CommitLog

/** Column changes on the commit log: ADD COLUMNS (top-level and nested,
  * with existence defaults), RENAME and DROP COLUMN through column
  * mapping, and ALTER COLUMN TYPE, each a metadata-only commit addressed
  * by a field path, on the library and the catalog routes. */
class CommitLogSchemaSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-commitlog").toString

  /** Files the executed plan actually scanned. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }.getOrElse(fail("no FileSourceScanExec in the executed plan"))
  }

  test("nested column mapping: struct-field RENAME/DROP are metadata-only, re-adds never resurrect, hazards refuse path-wise (VERDICT r17 #3)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.struct
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "st", "x")
        .select(col("id"), struct(col("st"), col("x")).as("meta")) }
    val v1 = CommitLog.latest(spark, root).get
    def metaFields(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.schema("meta").dataType.asInstanceOf[StructType].fieldNames.toSeq
    // RENAME meta.x -> score: ONE metadata commit, zero dirs moved, the
    // field's physical name frozen path-keyed, the nested gate recorded
    val c = CommitLog.renameColumn(spark, root, "w",
      Seq("meta", "x"), "score")
    assert(c.dataDirs == v1.dataDirs && c.colMap("meta.score") == "x",
      s"nested rename must be metadata-only over a frozen path: ${c.colMap}")
    assert(CommitLog.gatedFeatures(c).contains("colmap-nested"),
      "a nested mapping must gate top-level-only binaries out")
    val lib = CommitLog.readLatest(spark, root).get
    assert(metaFields(lib) == Seq("st", "score"))
    assert(rows(lib.select(col("id"), col("meta.score")).orderBy("id")) ==
      Seq(Seq(1L, 1.5), Seq(2L, 2.5)), "old dirs translate at depth")
    assert(rows(spark.read.format("graft.commitlog").load(root)
      .select(col("id"), col("meta.score")).orderBy("id")) ==
      Seq(Seq(1L, 1.5), Seq(2L, 2.5)), "connector route translates too")
    // time travel shows the OLD nested name (its commit records it)
    assert(metaFields(CommitLog.readVersion(spark, root, v1.version).get) ==
      Seq("st", "x"))
    // post-rename writes stage under the frozen physical; merge rides
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c", 3.5)).toDF("id", "st", "score")
        .select(col("id"), struct(col("st"), col("score")).as("meta")))
    CommitLog.merge(spark, root, "m", "id",
      Seq((2L, "B", 9.5)).toDF("id", "st", "score")
        .select(col("id"), struct(col("st"), col("score")).as("meta")))
    def scores = CommitLog.readLatest(spark, root).get.orderBy("id")
      .select("meta.score").collect().map(_.getDouble(0)).toSeq
    assert(scores == Seq(1.5, 9.5, 3.5),
      s"append+merge must translate through the nested mapping: $scores")
    // DROP meta.st, then re-ADD the same nested name: the fresh
    // `col-<uuid>` physical reads typed NULL — never the dropped bytes
    CommitLog.dropColumn(spark, root, "w", Seq("meta", "st"))
    assert(metaFields(CommitLog.readLatest(spark, root).get) == Seq("score"))
    val re = CommitLog.evolveColumns(spark, root, "w",
      Seq(Seq("meta") -> StructField("st", StringType)))
    assert(re.colMap.get("meta.st").exists(_.startsWith("col-")),
      s"a re-added nested name must take a fresh physical: ${re.colMap}")
    assert(CommitLog.readLatest(spark, root).get.select("meta.st")
      .collect().forall(_.isNullAt(0)),
      "re-added nested field must NOT resurrect dropped bytes")
    // a FULL rewrite materializes logical names and clears the map
    // (fragment the head first — a quiescent single small dir would
    // no-op, the schedulable-cadence contract)
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((4L, 4.5, "d")).toDF("id", "score", "st")
        .select(col("id"), struct(col("score"), col("st")).as("meta")))
    val fc = CommitLog.compact(spark, root, "opt").get
    assert(fc.colMap.isEmpty,
      s"a full compact must materialize and clear the map: ${fc.colMap}")
    assert(scores == Seq(1.5, 9.5, 3.5, 4.5))
    // hazards refuse PATH-WISE: a constraint on meta.x blocks renaming
    // meta.x and meta, but NOT the sibling meta.st
    val root2 = freshRoot() + "/c"
    CommitLog.commit(spark, root2, "w", "create") { _ =>
      Seq((1L, "a", 1.5)).toDF("id", "st", "x")
        .select(col("id"), struct(col("st"), col("x")).as("meta")) }
    CommitLog.addConstraint(spark, root2, "w", "pos_x", "meta.x > 0")
    intercept[IllegalArgumentException] {
      CommitLog.renameColumn(spark, root2, "w", Seq("meta", "x"), "y") }
    intercept[IllegalArgumentException] {
      CommitLog.dropColumn(spark, root2, "w", Seq("meta", "x")) }
    intercept[IllegalArgumentException] {
      CommitLog.renameColumn(spark, root2, "w", Seq("meta"), "info") }
    val sib = CommitLog.renameColumn(spark, root2, "w",
      Seq("meta", "st"), "tag")
    assert(sib.colMap("meta.tag") == "st",
      "a constraint on meta.x must not block the sibling meta.st")
    assert(rows(CommitLog.readLatest(spark, root2).get
      .select(col("meta.tag"), col("meta.x"))) == Seq(Seq("a", 1.5)))
    // the statement faces route through the verbs
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gnm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gnm.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gnm.t USING `graft.commitlog` LOCATION '$root2'")
      spark.sql("ALTER TABLE gnm.t RENAME COLUMN meta.tag TO label")
      assert(CommitLog.latest(spark, root2).get.writer == "catalog")
      spark.sql("ALTER TABLE gnm.t DROP COLUMN meta.label")
      assert(metaFields(spark.table("gnm.t")) == Seq("x"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gnm.t")
      spark.conf.unset("spark.sql.catalog.gnm")
      spark.conf.unset("spark.sql.catalog.gnm.dir")
    }
  }

  test("ALTER COLUMN TYPE: safe widenings are metadata-only, mixed dirs read promoted on every route, unsafe retypes refuse (VERDICT r17 #4)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType,
      IntegerType, LongType, StringType}
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create", statsCol = Some("i")) { _ =>
      Seq((1, 1.5f, "1.23"), (2, 2.5f, "4.56")).toDF("i", "f", "d")
        .select(col("i"), col("f"), col("d").cast("decimal(5,2)").as("d")) }
    val before = CommitLog.latest(spark, root).get
    val c1 = CommitLog.widenColumnType(spark, root, "w", Seq("i"), LongType)
    assert(c1.dataDirs == before.dataDirs && c1.action == "retype",
      "widening is one metadata commit, zero data moved")
    // old int32 files read as bigint — library, connector, time travel
    val lib = CommitLog.readLatest(spark, root).get
    assert(lib.schema("i").dataType == LongType &&
      lib.orderBy("i").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "parquet read-side promotion must fill the pinned wider schema")
    val conn = spark.read.format("graft.commitlog").load(root)
    assert(conn.schema("i").dataType == LongType && conn.count() == 2L)
    assert(CommitLog.readVersion(spark, root, 1L).get
      .schema("i").dataType == IntegerType,
      "time travel before the retype shows the narrow type")
    // a post-widening append stores values only the wide type can hold;
    // mixed narrow/wide dirs union soundly and stats keep pruning (the
    // integral stats domain is the same long domain on both sides)
    CommitLog.commitAppend(spark, root, "w", "append", statsCol = Some("i"))(
      Seq((3000000000L, 9.5f, "9.99")).toDF("i", "f", "d")
        .select(col("i"), col("f"), col("d").cast("decimal(5,2)").as("d")))
    val all = spark.read.format("graft.commitlog").load(root)
    assert(all.orderBy("i").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3000000000L))
    val probe = spark.read.format("graft.commitlog").load(root)
      .filter(col("i") === 3000000000L)
    assert(probe.count() == 1L && scannedFiles(probe) < scannedFiles(all),
      "stats pruning survives the retype (one shared long domain)")
    // float -> double and decimal precision growth, values exact
    CommitLog.widenColumnType(spark, root, "w", Seq("f"), DoubleType)
    CommitLog.widenColumnType(spark, root, "w", Seq("d"), DecimalType(9, 2))
    val widened = CommitLog.readLatest(spark, root).get
    assert(widened.schema("f").dataType == DoubleType &&
      widened.schema("d").dataType == DecimalType(9, 2))
    assert(widened.orderBy("i").collect().map(_.getDouble(1)).toSeq ==
      Seq(1.5, 2.5, 9.5), "float widens losslessly to double")
    assert(widened.filter(col("d") === new java.math.BigDecimal("4.56"))
      .count() == 1L, "decimal values survive precision growth")
    // the REFUSAL set: narrowing, cross-family, scale changes, nested,
    // unknown columns — each loud, nothing committed
    val vb = CommitLog.latest(spark, root).get.version
    intercept[IllegalArgumentException] { // narrowing
      CommitLog.widenColumnType(spark, root, "w", Seq("i"), IntegerType) }
    intercept[IllegalArgumentException] { // cross-family
      CommitLog.widenColumnType(spark, root, "w", Seq("i"), StringType) }
    intercept[IllegalArgumentException] { // double -> float narrows
      CommitLog.widenColumnType(spark, root, "w", Seq("f"), FloatType) }
    intercept[IllegalArgumentException] { // scale change is not widening
      CommitLog.widenColumnType(spark, root, "w", Seq("d"), DecimalType(10, 3)) }
    intercept[IllegalArgumentException] { // unknown column
      CommitLog.widenColumnType(spark, root, "w", Seq("ghost"), LongType) }
    assert(CommitLog.latest(spark, root).get.version == vb,
      "refused retypes are pre-claim")
    // the statement face routes through the verb
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gwt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwt.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gwt.t USING `graft.commitlog` LOCATION '$root'")
      spark.sql("ALTER TABLE gwt.t ADD COLUMNS (j INT)")
      spark.sql("ALTER TABLE gwt.t ALTER COLUMN j TYPE BIGINT")
      val head = CommitLog.latest(spark, root).get
      assert(head.action == "retype" && head.writer == "catalog",
        "SQL ALTER COLUMN TYPE is an audited protocol commit")
      assert(spark.table("gwt.t").schema("j").dataType == LongType)
      intercept[Exception] {
        spark.sql("ALTER TABLE gwt.t ALTER COLUMN j TYPE INT") }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gwt.t")
      spark.conf.unset("spark.sql.catalog.gwt")
      spark.conf.unset("spark.sql.catalog.gwt.dir")
    }
  }

  test("ALTER COLUMN TYPE on a NESTED field: metadata-only, mixed dirs promote on every route, refusals loud (VERDICT r18 #3)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType,
      LongType, StringType, StructType}
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, 10), (2L, 20)).toDF("id", "q")
        .select(col("id"),
          struct(col("q").as("q2"), (col("q") / 4.0f).cast("float").as("f2"))
            .as("m")) }
    val before = CommitLog.latest(spark, root).get
    val c1 = CommitLog.widenColumnType(spark, root, "w",
      Seq("m", "q2"), LongType)
    assert(c1.dataDirs == before.dataDirs && c1.action == "retype",
      "nested widening is one metadata commit, zero data moved")
    def q2Type(df: org.apache.spark.sql.DataFrame) =
      df.schema("m").dataType.asInstanceOf[StructType]("q2").dataType
    // old int32 leaves read as bigint — library, connector, time travel
    val lib = CommitLog.readLatest(spark, root).get
    assert(q2Type(lib) == LongType &&
      lib.orderBy("id").select("m.q2").collect().map(_.getLong(0)).toSeq ==
        Seq(10L, 20L),
      "parquet per-leaf promotion must fill the pinned wider nested type")
    assert(q2Type(spark.read.format("graft.commitlog").load(root)) == LongType)
    assert(q2Type(CommitLog.readVersion(spark, root, 1L).get) == IntegerType,
      "time travel before the retype shows the narrow nested type")
    // a post-widening append holds values only the wide type can carry;
    // mixed narrow/wide dirs union soundly
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, 5000000000L)).toDF("id", "q")
        .select(col("id"),
          struct(col("q").as("q2"), lit(9.5f).as("f2")).as("m")))
    assert(spark.read.format("graft.commitlog").load(root)
      .orderBy("id").select("m.q2").collect().map(_.getLong(0)).toSeq ==
      Seq(10L, 20L, 5000000000L))
    // refusals: narrowing, non-struct intermediate, unknown field,
    // top-level path through the nested verb — each loud, pre-claim
    val vb = CommitLog.latest(spark, root).get.version
    intercept[IllegalArgumentException] { // narrowing
      CommitLog.widenColumnType(spark, root, "w", Seq("m", "q2"),
        IntegerType) }
    intercept[IllegalArgumentException] { // cross-family
      CommitLog.widenColumnType(spark, root, "w", Seq("m", "f2"),
        StringType) }
    intercept[IllegalArgumentException] { // non-struct intermediate
      CommitLog.widenColumnType(spark, root, "w", Seq("id", "x"),
        LongType) }
    intercept[IllegalArgumentException] { // unknown field
      CommitLog.widenColumnType(spark, root, "w", Seq("m", "ghost"),
        LongType) }
    intercept[IllegalArgumentException] { // top-level path: wrong verb
      CommitLog.widenColumnType(spark, root, "w", Seq("id"), LongType) }
    assert(CommitLog.latest(spark, root).get.version == vb,
      "refused nested retypes are pre-claim")
    // the statement face routes ALTER COLUMN s.f TYPE through the verb
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gwn", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gwn.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gwn.t USING `graft.commitlog` LOCATION '$root'")
      spark.sql("ALTER TABLE gwn.t ALTER COLUMN m.f2 TYPE DOUBLE")
      val head = CommitLog.latest(spark, root).get
      assert(head.action == "retype" && head.writer == "catalog",
        "SQL nested ALTER COLUMN TYPE is an audited protocol commit")
      val t = spark.table("gwn.t")
      assert(t.schema("m").dataType.asInstanceOf[StructType]("f2")
        .dataType == DoubleType)
      assert(t.orderBy("id").select("m.f2").collect()
        .map(_.getDouble(0)).toSeq == Seq(2.5, 5.0, 9.5),
        "float leaves promote to double across mixed dirs")
      intercept[Exception] {
        spark.sql("ALTER TABLE gwn.t ALTER COLUMN m.f2 TYPE FLOAT") }
    } finally {
      spark.sql("DROP TABLE IF EXISTS gwn.t")
      spark.conf.unset("spark.sql.catalog.gwn")
      spark.conf.unset("spark.sql.catalog.gwn.dir")
    }
  }

  test("NESTED existence DEFAULTS: pre-evolution dirs read the constant where the parent exists, gated defaults-nested (VERDICT r18 #3)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
      StructField}
    val root = freshRoot() + "/t"
    // dir 1 carries a NULL parent struct — the row genuinely holds no
    // struct, so no field default may apply to it
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, Some("a")), (2L, None)).toDF("id", "st")
        .select(col("id"),
          when(col("st").isNotNull, struct(col("st"))).as("m")) }
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c")).toDF("id", "st")
        .select(col("id"), when(lit(true), struct(col("st"))).as("m")))
    val c = CommitLog.evolveColumns(spark, root, "w",
      Seq(Seq("m") -> StructField("tier", StringType),
        Seq("m") -> StructField("pr", IntegerType)),
      defaults = Map("m.tier" -> "'std'", "m.pr" -> "7"))
    assert(c.dataDirs == CommitLog.commitAt(spark, root, 2L).get.dataDirs &&
      c.defaults.map(d => (d._1, d._3)).toSet ==
        Set(("m.tier", "'std'"), ("m.pr", "7")),
      s"nested defaults record under dot-joined paths: ${c.defaults}")
    assert(CommitLog.gatedFeatures(c).contains("defaults-nested"),
      "a path-keyed default must gate top-level-only defaults binaries " +
        "out — they would silently read NULL where the constant belongs")
    // every pre-evolution row with a parent reads the constants; the
    // NULL-parent row stays NULL — on the library AND connector routes
    def snap(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      rows(df.orderBy("id").select(col("id"), col("m.tier"), col("m.pr"),
        col("m").isNull.as("noparent")))
    val expected = Seq(
      Seq(1L, "std", 7, false), Seq(2L, null, null, true),
      Seq(3L, "std", 7, false))
    assert(snap(CommitLog.readLatest(spark, root).get) == expected,
      "library route must coalesce nested fields where the parent exists")
    assert(snap(spark.read.format("graft.commitlog").load(root)) == expected,
      "connector route must coalesce identically")
    // post-evolution writes store explicit values — incl. explicit NULL
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((4L, "d", "gold", 9), (5L, "e", null, 0))
        .toDF("id", "st", "tier", "pr")
        .select(col("id"),
          struct(col("st"), col("tier"),
            when(col("id") === 4L, col("pr")).as("pr")).as("m")))
    assert(snap(CommitLog.readLatest(spark, root).get) == expected ++ Seq(
      Seq(4L, "gold", 9, false), Seq(5L, null, null, false)),
      "explicit post-evolution values (incl. NULL) must win")
    // WIDENING the defaulted nested leaf re-casts the recorded constant
    CommitLog.widenColumnType(spark, root, "w", Seq("m", "pr"), LongType)
    assert(CommitLog.readLatest(spark, root).get.orderBy("id")
      .select("m.pr").collect().map(r =>
        if (r.isNullAt(0)) null else r.getLong(0)).toSeq ==
      Seq(7L, null, 7L, 9L, null),
      "the recorded default must re-cast to the widened nested type")
    // RENAME re-keys the default with the field; DROP removes it
    val rn = CommitLog.renameColumn(spark, root, "w",
      Seq("m", "tier"), "grade")
    assert(rn.defaults.exists(d => d._1 == "m.grade" && d._3 == "'std'") &&
      !rn.defaults.exists(_._1 == "m.tier"),
      s"nested defaults must follow a rename: ${rn.defaults}")
    assert(CommitLog.readLatest(spark, root).get.filter(col("id") === 1L)
      .select("m.grade").head().getString(0) == "std")
    val dr = CommitLog.dropColumn(spark, root, "w", Seq("m", "pr"))
    assert(!dr.defaults.exists(_._1 == "m.pr"),
      s"a dropped field's default goes with it: ${dr.defaults}")
    // a TOP-LEVEL added column whose literal name contains '.' may not
    // carry a default — applyDefaults would misread the key as a nested
    // path and the constant would silently never coalesce (code review
    // r19)
    intercept[IllegalArgumentException] {
      CommitLog.evolveColumns(spark, root, "w",
        Seq(Nil -> org.apache.spark.sql.types.StructField("odd.name", StringType)),
        defaults = Map("odd.name" -> "'x'"))
    }
    // the SQL statement face: ADD COLUMNS (m.x T DEFAULT c) records the
    // path-keyed default through the catalog in ONE commit
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gnd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gnd.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gnd.t USING `graft.commitlog` LOCATION '$root'")
      val preV = CommitLog.latest(spark, root).get.version
      spark.sql("ALTER TABLE gnd.t ADD COLUMNS " +
        "(m.src STRING DEFAULT 'web', origin STRING DEFAULT 'batch')")
      val head = CommitLog.latest(spark, root).get
      assert(head.version == preV + 1,
        "mixed top-level + nested defaulted adds are ONE commit")
      assert(head.defaults.exists(d => d._1 == "m.src" && d._3 == "'web'") &&
        head.defaults.exists(d => d._1 == "origin" && d._3 == "'batch'"),
        s"the statement face records both defaults: ${head.defaults}")
      assert(rows(spark.table("gnd.t").filter(col("id") === 1L)
        .select(col("m.src"), col("origin"))) == Seq(Seq("web", "batch")),
        "catalog-route reads deliver both constants to pre-evolution dirs")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gnd.t")
      spark.conf.unset("spark.sql.catalog.gnd")
      spark.conf.unset("spark.sql.catalog.gnd.dir")
    }
  }

  test("column mapping: RENAME/DROP COLUMN are metadata-only, re-adds never resurrect, full rewrites materialize") {
    import spark.implicits._
    val catRoot = freshRoot()
    val tableRoot = freshRoot() + "/t"
    spark.conf.set("spark.sql.catalog.gcmp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcmp.dir", catRoot)
    try {
      CommitLog.commitAppend(spark, tableRoot, "w", "append",
        statsCol = Some("id"), createOnEmpty = true)(
        Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "p"))
      CommitLog.commitAppend(spark, tableRoot, "w", "append",
        statsCol = Some("id"))(
        Seq((3L, "c", 30.0)).toDF("id", "v", "p"))
      spark.sql(s"CREATE TABLE gcmp.t USING `graft.commitlog` LOCATION '$tableRoot'")
      val preDirs = CommitLog.latest(spark, tableRoot).get.dataDirs

      // ---- RENAME: one metadata commit, zero data bytes ----
      spark.sql("ALTER TABLE gcmp.t RENAME COLUMN v TO label")
      val renamed = CommitLog.latest(spark, tableRoot).get
      assert(renamed.dataDirs == preDirs, "RENAME must not touch data dirs")
      assert(renamed.colMap == Map("id" -> "id", "label" -> "v", "p" -> "p"),
        s"activation freezes physicals: ${renamed.colMap}")
      assert(renamed.statsCols == Seq("id") &&
        renamed.stats.values.forall(_.contains("id")),
        "stats re-key under logical names")
      // every route reads the NEW name with the old values
      assert(rows(CommitLog.readLatest(spark, tableRoot).get
        .select("label").orderBy("label")) == Seq(Seq("a"), Seq("b"), Seq("c")))
      assert(spark.table("gcmp.t").schema.fieldNames.toSeq ==
        Seq("id", "label", "p"))
      assert(spark.sql("SELECT label FROM gcmp.t WHERE id = 2")
        .head().getString(0) == "b")
      assert(spark.read.format("graft.commitlog").load(tableRoot)
        .filter(col("label") === "c").count() == 1L)
      // time travel BEFORE the rename shows the OLD name
      assert(spark.sql("SELECT * FROM gcmp.t VERSION AS OF 2")
        .schema.fieldNames.toSeq == Seq("id", "v", "p"))
      // appends after the rename stage under the FROZEN physical name
      spark.sql("INSERT INTO gcmp.t VALUES (4, 'd', 40.0)")
      val afterIns = CommitLog.latest(spark, tableRoot).get
      val newDir = afterIns.dataDirs.filterNot(preDirs.contains).head
      val raw = spark.read.parquet(s"$tableRoot/$newDir")
      assert(raw.schema.fieldNames.toSeq == Seq("id", "v", "p"),
        s"post-rename staging keeps the frozen physical names: ${raw.schema}")
      assert(spark.table("gcmp.t").count() == 4L)
      // row-level verbs ride the mapping (UPDATE the renamed column)
      spark.sql("UPDATE gcmp.t SET label = 'B' WHERE id = 2")
      assert(spark.sql("SELECT label FROM gcmp.t WHERE id = 2")
        .head().getString(0) == "B")
      // incremental consumers resync across the rename
      assert(CommitLog.appendedSince(spark, tableRoot, 2L).isEmpty,
        "a rename breaks append-only incrementality (schema contract)")

      // ---- DROP: metadata-only; re-ADD never resurrects ----
      spark.sql("ALTER TABLE gcmp.t DROP COLUMN p")
      assert(spark.table("gcmp.t").schema.fieldNames.toSeq ==
        Seq("id", "label"))
      spark.sql("ALTER TABLE gcmp.t ADD COLUMNS (p DOUBLE)")
      val readd = CommitLog.latest(spark, tableRoot).get
      assert(readd.colMap("p").startsWith("col-"),
        s"a re-added logical name takes a fresh physical: ${readd.colMap}")
      assert(spark.table("gcmp.t").filter(col("p").isNotNull).count() == 0L,
        "the dropped column's stored bytes must never resurrect")
      // constraints referencing a column block its rename, loudly
      CommitLog.addConstraint(spark, tableRoot, "w", "id_pos", "id > 0")
      val blocked = intercept[Exception] {
        spark.sql("ALTER TABLE gcmp.t RENAME COLUMN id TO ident") }
      assert(blocked.getMessage.contains("id_pos"), blocked.getMessage)

      // ---- compact MATERIALIZES logical names, clears the map ----
      val compacted = CommitLog.compact(spark, tableRoot, "opt").get
      assert(compacted.colMap.isEmpty,
        "a full rewrite materializes the logical names")
      assert(!CommitLog.needsMergeOnRead(compacted))
      val rawAll = spark.read.parquet(
        compacted.dataDirs.map(d => s"$tableRoot/$d"): _*)
      assert(rawAll.schema.fieldNames.toSeq == Seq("id", "label", "p"),
        s"materialized files carry logical names: ${rawAll.schema}")
      assert(spark.table("gcmp.t").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
      // strict parse: a damaged colMap block makes the commit unreadable
      val root2 = freshRoot() + "/m"
      CommitLog.commit(spark, root2, "w", "create") { _ =>
        Seq((1L, "x")).toDF("id", "v") }
      CommitLog.renameColumn(spark, root2, "w", Seq("v"), "w")
      val p2 = java.nio.file.Paths.get(root2, "_commits",
        "v" + "%020d".format(2L) + ".json")
      val damaged = new String(Files.readAllBytes(p2), "UTF-8")
        .replace("\"colMap\":[{\"l\":", "\"colMap\":[{\"L\":")
      Files.write(p2, damaged.getBytes("UTF-8"))
      assert(CommitLog.commitAt(spark, root2, 2L).isEmpty,
        "a commit with a damaged colMap must not parse")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcmp.t")
      spark.conf.unset("spark.sql.catalog.gcmp")
      spark.conf.unset("spark.sql.catalog.gcmp.dir")
    }
  }

  test("ADD COLUMNS DEFAULT: pre-evolution dirs read the constant, new writes store explicit values, every route agrees") {
    import spark.implicits._
    val catRoot = freshRoot()
    val tableRoot = freshRoot() + "/t"
    spark.conf.set("spark.sql.catalog.gcdf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcdf.dir", catRoot)
    try {
      CommitLog.commit(spark, tableRoot, "w", "create") { _ =>
        Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
      spark.sql(s"CREATE TABLE gcdf.t USING `graft.commitlog` LOCATION '$tableRoot'")
      // the statement face: ALTER … ADD COLUMNS with DEFAULT
      spark.sql("ALTER TABLE gcdf.t ADD COLUMNS (bonus DOUBLE DEFAULT 1.5)")
      val evolved = CommitLog.latest(spark, tableRoot).get
      assert(evolved.defaults.map(d => (d._1, d._3)) ==
        Seq(("bonus", "1.5")), evolved.defaults.toString)
      // pre-evolution dirs read the EXISTENCE default through all routes
      def bonuses(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("id").collect().map(r => Option(r.get(2))).toSeq
      assert(bonuses(CommitLog.readLatest(spark, tableRoot).get) ==
        Seq(Some(1.5), Some(1.5)), "library route")
      assert(bonuses(spark.table("gcdf.t")) ==
        Seq(Some(1.5), Some(1.5)), "catalog route")
      assert(bonuses(spark.read.format("graft.commitlog").load(tableRoot)) ==
        Seq(Some(1.5), Some(1.5)), "connector route")
      // new writes store EXPLICIT values — including explicit NULL,
      // which must stay NULL (existence default ≠ insert default)
      spark.sql("INSERT INTO gcdf.t VALUES (3, 'c', 9.0), (4, 'd', NULL)")
      assert(bonuses(spark.table("gcdf.t")) ==
        Seq(Some(1.5), Some(1.5), Some(9.0), None))
      // a constraint added NOW sees the default on old rows (the
      // enforcement read is the default-applied snapshot)
      CommitLog.addConstraint(spark, tableRoot, "w", "bonus_pos",
        "bonus IS NULL OR bonus > 0")
      // filters/aggregates see the default (pushdown-safe: the MoR
      // relation re-applies everything above the coalesce)
      assert(spark.table("gcdf.t").filter(col("bonus") === 1.5).count() == 2L)
      assert(spark.sql("SELECT sum(bonus) FROM gcdf.t").head().getDouble(0)
        == 12.0)
      // time travel BEFORE the evolution shows the old schema
      assert(!spark.sql("SELECT * FROM gcdf.t VERSION AS OF 1")
        .schema.fieldNames.contains("bonus"))
      // compact MATERIALIZES the default physically; reads agree after
      CommitLog.compact(spark, tableRoot, "opt")
      val afterCompact = CommitLog.latest(spark, tableRoot).get
      assert(!CommitLog.needsMergeOnRead(afterCompact),
        "a compacted head reads as a bare file scan again")
      assert(bonuses(spark.table("gcdf.t")) ==
        Seq(Some(1.5), Some(1.5), Some(9.0), None))
      // a merge on the defaulted table must not drop the constant
      CommitLog.merge(spark, tableRoot, "m", "id",
        Seq((2L, "B", 2.5)).toDF("id", "v", "bonus"))
      assert(bonuses(spark.table("gcdf.t")) ==
        Seq(Some(1.5), Some(2.5), Some(9.0), None))
      // CREATE TABLE with a column DEFAULT refuses (sound-or-refuse:
      // nothing substitutes defaults at INSERT time)
      val createDefault = intercept[Exception] {
        spark.sql("CREATE TABLE gcdf.bad (id BIGINT, x INT DEFAULT 7) " +
          s"USING `graft.commitlog` LOCATION '${freshRoot()}/bad'")
      }
      assert(createDefault.getMessage.toLowerCase.contains("default"),
        createDefault.getMessage)
      // a non-deterministic default refuses before anything commits
      val vBefore = CommitLog.latest(spark, tableRoot).get.version
      intercept[Exception] {
        CommitLog.evolveColumns(spark, tableRoot, "w",
          Seq(Nil -> org.apache.spark.sql.types.StructField("r",
            org.apache.spark.sql.types.DoubleType)),
          defaults = Map("r" -> "rand()"))
      }
      assert(CommitLog.latest(spark, tableRoot).get.version == vBefore)
    } finally {
      spark.sql("DROP TABLE IF EXISTS gcdf.t")
      spark.conf.unset("spark.sql.catalog.gcdf")
      spark.conf.unset("spark.sql.catalog.gcdf.dir")
    }
  }

  test("nested additive schema evolution: one metadata commit, old dirs read typed NULL at any depth, every route agrees (VERDICT r16 #4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.struct
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField}
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "st", "x")
        .select(col("id"), struct(col("st"), col("x")).as("meta")) }
    val v1 = CommitLog.latest(spark, root).get
    // ONE rowInvisible metadata commit, zero data dirs moved
    val c = CommitLog.evolveColumns(spark, root, "w",
      Seq(Seq("meta") -> StructField("score", DoubleType)))
    assert(c.rowInvisible && c.dataDirs == v1.dataDirs &&
      c.version == v1.version + 1)
    val got = CommitLog.readLatest(spark, root).get
    assert(got.schema("meta").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("st", "x", "score"))
    assert(rows(got.select(col("id"), col("meta.score")).orderBy("id")) ==
      Seq(Seq(1L, null), Seq(2L, null)),
      "pre-evolution dirs read the nested field as typed NULL")
    // post-evolution appends store explicit nested values
    CommitLog.commitAppend(spark, root, "w", "append")(
      Seq((3L, "c", 3.0, 9.5)).toDF("id", "st", "x", "score")
        .select(col("id"),
          struct(col("st"), col("x"), col("score")).as("meta")))
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").select("meta.score").collect()
        .map(r => Option(r.get(0))).toSeq
    assert(scores(CommitLog.readLatest(spark, root).get) ==
      Seq(None, None, Some(9.5)), "library route")
    assert(scores(spark.read.format("graft.commitlog").load(root)) ==
      Seq(None, None, Some(9.5)), "connector route")
    // filters/aggregates over the filled field
    assert(CommitLog.readLatest(spark, root).get
      .filter(col("meta.score").isNull).count() == 2L)
    // a merge over the widened schema rides through old+new dirs
    CommitLog.merge(spark, root, "m", "id",
      Seq((2L, "b", 2.0, 5.5)).toDF("id", "st", "x", "score")
        .select(col("id"),
          struct(col("st"), col("x"), col("score")).as("meta")))
    assert(scores(CommitLog.readLatest(spark, root).get) ==
      Seq(None, Some(5.5), Some(9.5)))
    // compact MATERIALIZES the nested NULLs; reads agree after
    CommitLog.compact(spark, root, "opt")
    assert(scores(CommitLog.readLatest(spark, root).get) ==
      Seq(None, Some(5.5), Some(9.5)))
    // time travel before the evolution shows the narrow struct
    assert(CommitLog.readVersion(spark, root, 1L).get
      .schema("meta").dataType.asInstanceOf[
        org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("st", "x"))
    // DEEP nesting: a second-level add
    val root2 = freshRoot() + "/deep"
    CommitLog.commit(spark, root2, "w", "create") { _ =>
      Seq((1L, 5L)).toDF("id", "xv")
        .select(col("id"), struct(struct(col("xv")).as("inner")).as("o")) }
    CommitLog.evolveColumns(spark, root2, "w",
      Seq(Seq("o", "inner") -> StructField("y", StringType)))
    assert(rows(CommitLog.readLatest(spark, root2).get
      .select(col("o.inner.y"))) == Seq(Seq(null)),
      "a two-level nested add reads NULL from the old dir")
    // refusals, each loud and commit-free
    val vBefore = CommitLog.latest(spark, root2).get.version
    intercept[IllegalArgumentException] { // not a struct
      CommitLog.evolveColumns(spark, root2, "w",
        Seq(Seq("id") -> StructField("z", StringType))) }
    intercept[IllegalArgumentException] { // duplicate (case-insensitive)
      CommitLog.evolveColumns(spark, root2, "w",
        Seq(Seq("o", "inner") -> StructField("Y", StringType))) }
    intercept[IllegalArgumentException] { // non-nullable
      CommitLog.evolveColumns(spark, root2, "w",
        Seq(Seq("o") -> StructField("req", StringType, nullable = false))) }
    intercept[IllegalArgumentException] { // missing path
      CommitLog.evolveColumns(spark, root2, "w",
        Seq(Seq("ghost") -> StructField("z", StringType))) }
    assert(CommitLog.latest(spark, root2).get.version == vBefore,
      "refusals are pre-claim")
    // the statement face: ALTER TABLE … ADD COLUMNS (meta.tag STRING)
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gne", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gne.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gne.t USING `graft.commitlog` LOCATION '$root'")
      spark.sql("ALTER TABLE gne.t ADD COLUMNS (meta.tag STRING)")
      assert(spark.table("gne.t").select("meta.tag").collect()
        .forall(_.isNullAt(0)), "catalog route reads the nested NULL")
      spark.sql("INSERT INTO gne.t VALUES " +
        "(4, named_struct('st', 'd', 'x', 4.0, 'score', 1.5, 'tag', 'new'))")
      assert(rows(spark.table("gne.t").filter(col("id") === 4L)
        .select(col("meta.tag"))) == Seq(Seq("new")))
      // nested DEFAULT records path-keyed since r19 (VERDICT r18 #3):
      // every dir staged so far predates the field, so all four rows
      // read the constant where their parent struct exists
      spark.sql("ALTER TABLE gne.t ADD COLUMNS (meta.d DOUBLE DEFAULT 1.0)")
      assert(CommitLog.latest(spark, root).get.defaults
        .exists(_._1 == "meta.d"))
      assert(spark.table("gne.t").select("meta.d").collect()
        .forall(r => !r.isNullAt(0) && r.getDouble(0) == 1.0),
        "pre-evolution dirs must read the nested constant")
      // ONE statement = ONE evolution commit across shapes (ADVICE r17):
      // a statement mixing a valid top-level add with an invalid nested
      // path commits NOTHING — 'id' is a bigint, not a struct
      val vb = CommitLog.latest(spark, root).get.version
      intercept[Exception] {
        spark.sql("ALTER TABLE gne.t ADD COLUMNS (half_ok STRING, id.bad STRING)") }
      assert(CommitLog.latest(spark, root).get.version == vb &&
        !CommitLog.readLatest(spark, root).get
          .schema.fieldNames.contains("half_ok"),
        "a half-invalid ADD COLUMNS must leave the table untouched")
      // and a VALID mixed statement lands as exactly one metadata commit
      spark.sql("ALTER TABLE gne.t ADD COLUMNS (mixed_ok STRING, meta.tag2 STRING)")
      val after = CommitLog.latest(spark, root).get
      assert(after.version == vb + 1 && after.action == "evolve",
        s"mixed top-level+nested adds fold into one commit: v$vb -> v${after.version}")
      assert(spark.table("gne.t").select(col("mixed_ok"), col("meta.tag2"))
        .collect().length == 4, "both shapes read green after the one commit")
    } finally {
      spark.sql("DROP TABLE IF EXISTS gne.t")
      spark.conf.unset("spark.sql.catalog.gne")
      spark.conf.unset("spark.sql.catalog.gne.dir")
    }
  }

  test("RENAME/DROP COLUMN refuse when a recorded constraint fails to resolve (VERDICT r16 watch-item #3)") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, 2L)).toDF("id", "v") }
    CommitLog.addConstraint(spark, root, "w", "v_pos", "v > 0")
    // damage the table out-of-band: the recorded constraint now
    // references a column that does not resolve against the head —
    // failing OPEN here would let DDL proceed past a constraint it
    // cannot prove unrelated
    val head = CommitLog.latest(spark, root).get
    val p = java.nio.file.Paths.get(root, "_commits",
      f"v${head.version}%020d.json")
    val txt = new String(Files.readAllBytes(p), "UTF-8")
    assert(txt.contains("v > 0"), txt)
    Files.write(p, txt.replace("v > 0", "ghost > 0").getBytes("UTF-8"))
    val e1 = intercept[IllegalStateException] {
      CommitLog.renameColumn(spark, root, "w", Seq("id"), "id2") }
    assert(e1.getMessage.contains("v_pos") &&
      e1.getMessage.contains("does not resolve"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      CommitLog.dropColumn(spark, root, "w", Seq("id")) }
    assert(e2.getMessage.contains("v_pos"), e2.getMessage)
    // nothing committed: the refusals are pre-claim
    assert(CommitLog.latest(spark, root).get.version == head.version)
    // dropping the broken constraint unblocks the rename
    CommitLog.dropConstraint(spark, root, "w", "v_pos")
    CommitLog.renameColumn(spark, root, "w", Seq("id"), "id2")
    assert(CommitLog.readLatest(spark, root).get.columns.toSeq ==
      Seq("id2", "v"))
  }

  test("DROP COLUMN IF EXISTS on a missing nested field commits nothing; a present one drops") {
    import spark.implicits._
    val root = freshRoot() + "/t"
    CommitLog.commit(spark, root, "w", "create") { _ =>
      Seq((1L, "a", 1.5)).toDF("id", "st", "x")
        .select(col("id"), struct(col("st"), col("x")).as("s")) }
    val catRoot = freshRoot()
    spark.conf.set("spark.sql.catalog.gdx", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdx.dir", catRoot)
    try {
      spark.sql(s"CREATE TABLE gdx.t USING `graft.commitlog` LOCATION '$root'")
      val v = CommitLog.latest(spark, root).get.version
      spark.sql("ALTER TABLE gdx.t DROP COLUMN IF EXISTS s.missing")
      assert(CommitLog.latest(spark, root).get.version == v,
        "IF EXISTS on a missing nested field is a no-op")
      intercept[Exception] {
        spark.sql("ALTER TABLE gdx.t DROP COLUMN s.missing") }
      spark.sql("ALTER TABLE gdx.t DROP COLUMN IF EXISTS s.x")
      val head = CommitLog.latest(spark, root).get
      assert(head.version == v + 1 && head.action == "drop-column")
      assert(spark.table("gdx.t").schema("s").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
        Seq("st"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS gdx.t")
      spark.conf.unset("spark.sql.catalog.gdx")
      spark.conf.unset("spark.sql.catalog.gdx.dir")
    }
  }
}
