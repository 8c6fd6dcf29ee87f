package graft.sources

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.CommitLog.{Commit, IndexEntry, UnsupportedTableFeatureException}

/** The metadata JSON codec against files written by the previous,
  * hand-written codec (`src/test/resources/commitlog-golden`: three commit
  * files, a checkpoint, a catalog descriptor and an index meta file), and
  * the per-field read contracts of the commit record. */
class CommitLogCodecSpec extends AnyFunSuite {
  private val golden =
    Paths.get(getClass.getResource("/commitlog-golden").toURI)
  private def text(rel: String) =
    new String(Files.readAllBytes(golden.resolve(rel)), "UTF-8")
  private def commitText(v: Long) = text(f"_commits/v$v%020d.json")
  private val fs = org.apache.hadoop.fs.FileSystem.getLocal(
    new org.apache.hadoop.conf.Configuration())

  private val d1 = "data-0a1b2c3d-v1"
  private val d2 = "data-4e5f6a7b-v1"
  private val d3 = "data-5c6d7e8f-v2"
  // what the previous codec's parse returned for each golden commit (its
  // dropped statsTyped field aside); between them they set every field
  private val expected: Map[Long, Commit] = Map(
    1L -> Commit(1L, Seq(d1, d2), "golden-w", "append",
      stats = Map(
        d1 -> Map("day" -> (19000L, 19010L), "id" -> (-5L, 120L)),
        d2 -> Map("day" -> (Long.MinValue, Long.MaxValue),
          "id" -> (121L, 9007199254740993L))),
      statsCols = Seq("id", "day"), txn = Some(("app-1", 42L)),
      clusterSpec = Some("z:id,day"),
      schemaDDL = Some(
        "`we\"ird\\na\nme\u0001😀` BIGINT,id BIGINT,day STRING"),
      tsMs = Some(1760000000123L),
      constraints = Seq("pos_id" -> "id >= 0 AND day <> \"x\\y\"",
        "day_ok" -> "day IS NOT NULL"),
      dv = Map(d1 -> "dv-9f8e7d6c-v1"), clusterBy = Some("sort:id"),
      fstats = Map(
        s"$d1/part-00000-ab12.c000.snappy.parquet" ->
          Map("day" -> (19000L, 19004L), "id" -> (-5L, 60L)),
        s"$d1/part-00001-cd34.c000.snappy.parquet" ->
          Map("day" -> (19005L, 19010L), "id" -> (61L, 120L))),
      rows = Map(d1 -> 100L, d2 -> 50L), dvRows = Map(d1 -> 3L)),
    2L -> Commit(2L, Seq(d3), "golden-w", "evolve", rowInvisible = true,
      schemaDDL = Some("id BIGINT,meta STRUCT<st: STRING, x: DOUBLE>,day STRING"),
      tsMs = Some(1760000000456L),
      defaults = Seq(("meta.tag", 2L, "'n\\a\"'"), ("d", 1L, "1.5")),
      colMap = Map("day" -> "day", "lab\"el" -> "v",
        "meta.st" -> "meta.col-1234"),
      partitionBy = Seq("day"), partVals = Map(d3 -> Seq("2025-01-0\"1é\\")),
      rows = Map(d3 -> 7L),
      gens = Seq("day" -> "date_format(ts, 'yyyy-MM-dd')"),
      unknownWriterFeatures = Set("time-locks")),
    // written from a commit that also held statsCols, dvRows and parts,
    // each dropped by its emission condition (no stats, dv, partitionBy)
    3L -> Commit(3L, Seq(d3), "golden-w", "create",
      tsMs = Some(1760000000789L)))

  test("golden commit files decode to what the previous codec read; encode→decode is the identity") {
    expected.foreach { case (v, c) =>
      assert(CommitLog.decode(v, commitText(v)).contains(c), s"v$v")
      // the writer feature list is derived from state on encode; an
      // unknown entry only ever comes from a newer writer's file
      val own = c.copy(unknownWriterFeatures = Set.empty)
      assert(CommitLog.decode(v, CommitLog.encode(own)).contains(own), s"v$v")
    }
    // same bytes as the previous writer, less the statsTyped list it no
    // longer writes and the forged unknown writer feature
    assert(CommitLog.encode(expected(1L)) == commitText(1L)
      .replaceAll(""","statsTyped":\[[^\]]*\]""", ""))
    assert(CommitLog.encode(expected(2L)) == commitText(2L)
      .replace(""","time-locks"]""", "]"))
    assert(CommitLog.encode(expected(3L)) == commitText(3L))
    // the emission conditions: statsCols only with stats, dvRows only
    // with dv, parts only with partitionBy
    assert(CommitLog.encode(expected(3L).copy(statsCols = Seq("id"),
      dvRows = Map(d3 -> 1L), partVals = Map(d3 -> Seq("x")))) ==
      commitText(3L))
    // the version is the file name's, not the content's
    assert(CommitLog.decode(7L, commitText(3L))
      .contains(expected(3L).copy(version = 7L)))
  }

  test("golden checkpoint, catalog descriptor, index meta and stream offset decode; encode→decode is the identity") {
    val entries = Seq(
      IndexEntry(1L, Some(1760000000123L), "golden-w", "create", false, 1,
        None, None, Nil),
      IndexEntry(2L, None, "w", "append", false, 2, None,
        Some(("app-1", 42L)), Seq("pos_id", "day_ok")),
      IndexEntry(3L, Some(1760000000789L), "opt", "compact", true, 1,
        Some("z:id,day"), None, Nil))
    assert(CommitLog.readCheckpoint(fs, golden.toString).contains(entries))
    val tmp = Files.createTempDirectory("codec-spec")
    Files.createDirectories(tmp.resolve("_commits"))
    CommitLog.writeIndexFile(fs, tmp.toString, entries)
    assert(CommitLog.readCheckpoint(fs, tmp.toString).contains(entries))
    assert(new String(Files.readAllBytes(tmp.resolve("_commits/_checkpoint.json")),
      "UTF-8") == text("_commits/_checkpoint.json"))

    val desc = ("graft.commitlog", "/data/we\"ird\\dir/t",
      Some("id BIGINT,`n\"o\\te\n` STRING"))
    assert(GraftCatalog.readDescriptor(fs,
      new HPath(golden.resolve("_graft_table.json").toString)).contains(desc))
    val dp = new HPath(tmp.resolve("_graft_table.json").toString)
    GraftCatalog.writeDescriptor(fs, dp, desc._1, desc._2, desc._3)
    assert(GraftCatalog.readDescriptor(fs, dp).contains(desc))
    GraftCatalog.writeDescriptor(fs, dp, desc._1, desc._2, None)
    assert(GraftCatalog.readDescriptor(fs, dp)
      .contains((desc._1, desc._2, None)))
    Files.write(tmp.resolve("bad.json"), "{\"provider\":1}".getBytes)
    intercept[IllegalStateException](GraftCatalog.readDescriptor(fs,
      new HPath(tmp.resolve("bad.json").toString)))

    assert(InvertedIndex.metaBuckets(golden.toString) == 32)
    InvertedIndex.writeMeta(tmp.toString, 17)
    assert(InvertedIndex.metaBuckets(tmp.toString) == 17)

    Seq(-1L, 0L, 123456789012L).foreach { s =>
      assert(IndexSegOffset.fromJson(IndexSegOffset(s).json()) ==
        IndexSegOffset(s))
    }
    assert(IndexSegOffset.fromJson("{\"maxSeg\": 5}") == IndexSegOffset(5L))
    intercept[IllegalArgumentException](IndexSegOffset.fromJson("{\"seg\":5}"))
  }

  private val mapper = new ObjectMapper()
  private val nodes = mapper.getNodeFactory
  private def wrong(kind: String): JsonNode = kind match {
    case "text" => nodes.textNode("damaged")
    case "number" => nodes.numberNode(7L)
    case "array" => nodes.arrayNode().add(1)
  }
  /** Golden commit `v` with `edit` applied — still one valid JSON object. */
  private def damaged(v: Long)(edit: ObjectNode => Unit): String = {
    val o = mapper.readTree(commitText(v)).asInstanceOf[ObjectNode]
    edit(o)
    mapper.writeValueAsString(o)
  }
  private def set(field: String, kind: String): ObjectNode => Unit =
    _.set[JsonNode](field, wrong(kind))

  test("field contracts: advisory fields read as empty, strict fields make the commit unreadable") {
    val advisory: Seq[(String, Long, ObjectNode => Unit, Commit => Commit)] = Seq(
      ("stats", 1L, set("stats", "text"), _.copy(stats = Map.empty)),
      ("stats range", 1L, o => o.withObjectProperty("stats").withObjectProperty(d1)
        .set[JsonNode]("id", wrong("array")), _.copy(stats = Map.empty)),
      ("statsCols", 1L, set("statsCols", "text"), _.copy(statsCols = Nil)),
      ("fstats", 1L, set("fstats", "array"), _.copy(fstats = Map.empty)),
      ("rows", 1L, set("rows", "text"), _.copy(rows = Map.empty)),
      ("dvRows", 1L, set("dvRows", "array"), _.copy(dvRows = Map.empty)),
      ("ts", 1L, set("ts", "text"), _.copy(tsMs = None)),
      ("txn", 1L, set("txn", "array"), _.copy(txn = None)),
      ("constraints[0]", 1L, o => o.withArray("constraints").get(0)
        .asInstanceOf[ObjectNode].set[JsonNode]("expr", wrong("number")),
        c => c.copy(constraints = c.constraints.drop(1))),
      ("constraints[1]", 1L, o => o.withArray("constraints").set(1,
        wrong("text")), c => c.copy(constraints = c.constraints.take(1))),
      ("cluster", 1L, set("cluster", "number"), _.copy(clusterSpec = None)),
      ("clusterBy", 1L, set("clusterBy", "array"), _.copy(clusterBy = None)),
      ("schema", 1L, set("schema", "number"), _.copy(schemaDDL = None)))
    advisory.foreach { case (name, v, edit, expect) =>
      assert(CommitLog.decode(v, damaged(v)(edit)).contains(expect(expected(v))),
        s"advisory $name")
    }
    val strict: Seq[(String, Long, ObjectNode => Unit)] = Seq(
      ("dataDirs", 1L, set("dataDirs", "text")),
      ("dataDirs empty", 1L, _.putArray("dataDirs")),
      ("dataDirs entry", 1L, _.withArray("dataDirs").add(3)),
      ("dataDirs absent", 1L, _.remove("dataDirs")),
      ("writer", 1L, set("writer", "number")),
      ("writer absent", 1L, _.remove("writer")),
      ("action", 1L, set("action", "array")),
      ("dv", 1L, set("dv", "text")),
      ("dv entry", 1L, _.withObjectProperty("dv").put(d2, 5)),
      ("defaults", 2L, set("defaults", "text")),
      ("defaults entry", 2L, o => o.withArray("defaults").get(0)
        .asInstanceOf[ObjectNode].put("since", "2")),
      ("colMap", 2L, set("colMap", "number")),
      ("colMap entry", 2L, o => o.withArray("colMap").get(1)
        .asInstanceOf[ObjectNode].remove("p")),
      ("gens", 2L, set("gens", "text")),
      ("partitionBy", 2L, set("partitionBy", "text")),
      ("parts", 2L, set("parts", "array")),
      ("parts entry", 2L, _.withObjectProperty("parts").put(d3, "2025")),
      ("features", 1L, set("features", "text")))
    strict.foreach { case (name, v, edit) =>
      assert(CommitLog.decode(v, damaged(v)(edit)).isEmpty, s"strict $name")
    }
  }

  test("field contracts: an unknown reader feature throws; torn files read as None") {
    val e = intercept[UnsupportedTableFeatureException] {
      CommitLog.decode(1L, damaged(1L)(_.withArray("features").add("time-crystals")))
    }
    assert(e.getMessage.contains("time-crystals"))
    // the gate comes before every strict field: a damaged strict field
    // next to an unknown feature still refuses rather than reading as torn
    intercept[UnsupportedTableFeatureException] {
      CommitLog.decode(1L, damaged(1L) { o =>
        o.withArray("features").add("time-crystals"); o.remove("writer") })
    }
    val good = commitText(1L)
    Seq("", "   \n", good.dropRight(10), good + "}", good + " x", good + "{}",
        "[" + good + "]").foreach { t =>
      assert(CommitLog.decode(1L, t).isEmpty, s"torn: '$t'")
    }
    assert(CommitLog.decode(1L, good + "\n").contains(expected(1L)))
  }
}
