package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, max, min, when}
import org.apache.spark.sql.types.StructType

/** Lakehouse-style OPTIMISTIC COMMIT LOG (SURVEY.md §3.2; VERDICT r10
  * missing #4 — the [U] capability model's task-queue lease analogue):
  * multiple uncoordinated writers mutate one logical table with
  * serializable read-modify-write semantics and readers always see a
  * complete committed snapshot — the guarantee [[graft.AtomicSwap]]'s
  * single-maintainer rename swap cannot give across sessions, because two
  * processes renaming the same live directory race the filesystem.
  *
  * Protocol (the published Delta/Iceberg commit shape, re-expressed
  * minimally over copy-on-write snapshot directories):
  *  - `<root>/_commits/v<seq>.json` is the log; a table VERSION exists iff
  *    its commit file does. The commit file names the snapshot data
  *    directory; data directories are immutable once committed.
  *  - A writer: reads the latest version, builds the FULL next snapshot
  *    from it (copy-on-write — the builder sees the current state), stages
  *    it to a fresh `data-<uuid>` directory, then CLAIMS version N+1 by
  *    creating `v<N+1>.json` create-exclusive. Exactly one concurrent
  *    claimant wins; losers delete their staged directory, re-read the new
  *    state, REBUILD, and retry — optimistic concurrency, serializability
  *    by construction (every committed version's builder saw exactly the
  *    previous version).
  *  - A reader: lists `_commits`, loads the newest PARSEABLE commit's data
  *    directory. Commit files become visible atomically-or-torn only at
  *    the log tail (a crash mid-write); readers skip a torn tail (they see
  *    version N−1 — the crashed commit never happened), and the next
  *    writer REPAIRS it: an unparseable tail file is deleted and its
  *    version number re-claimed (the dead writer can never return to
  *    finish it; deletion is idempotent under racing repairers).
  *
  * Claim atomicity: on `file://` the claim uses java.nio CREATE_NEW —
  * O_EXCL, atomic under concurrent processes on one host; on HDFS-like
  * stores `FileSystem.create(overwrite = false)` is the same atomic
  * create-exclusive (the Delta HDFS LogStore contract). Object stores
  * without atomic create-exclusive need a coordination service — exactly
  * the documented Delta/S3 caveat; out of scope here.
  *
  * Scale: a commit costs one snapshot write + one ~200-byte log file;
  * conflict cost is proportional to ACTUAL contention (losers redo only
  * their own build). History is bounded by [[vacuum]], which drops all but
  * the newest K versions' data directories and log entries. At 100 TB the
  * snapshot write dominates and is the same cost the single-writer swap
  * already paid; production tables make `build` emit partition-level
  * copy-on-write (rewrite only touched partitions into the new dir) —
  * the log protocol is unchanged.
  */
object CommitLog {
  /** One committed version: the union of its immutable data directories
    * (one dir for a full rewrite, prior dirs plus one delta dir for an
    * append) and the table state every verb carries forward. On disk it
    * is `_commits/v<version>.json`, written by [[encode]] and read by
    * [[decode]]; the version is read from the file name.
    *
    * Each field has one of three read contracts. STRICT: a damaged value
    * makes the whole commit unreadable (a torn tail is repaired, a
    * mid-log commit takes the resync path), because reading around it
    * would return wrong rows or let a writer drop a recorded obligation.
    * ADVISORY: a damaged or absent value reads as empty, which costs only
    * pruning, planning or audit precision. GATE: a feature list a reader
    * or writer must understand before it touches the table.
    *
    * {{{
    * field (JSON key)       contract   written when          meaning
    * dataDirs               strict     always, non-empty     dirs whose union is the snapshot
    * writer, action         strict     always                audit tags
    * rowInvisible           advisory   true (library verbs)  rows equal the parent's (compact):
    *                                                         incremental consumers skip it
    * (features)             gate       gatedFeatures(c)      reader features; an unknown one
    *                                   non-empty             throws UnsupportedTableFeatureException
    * unknownWriterFeatures  gate       gatedWriterFeatures   writer obligations; unknown names
    *   (writerFeatures)                (c) non-empty         land here and refuse every write verb
    * tsMs (ts)              advisory   by every verb         claim-time epoch ms; time travel
    *                                                         refuses a commit without it
    * clusterSpec (cluster)  advisory   set                   how a compact laid this snapshot out
    * clusterBy              advisory   set                   declared clustering a column-less
    *                                                         compact applies
    * txn                    advisory   set                   (appId, batchId) watermark of
    *                                                         commitAppendOnce
    * schemaDDL (schema)     advisory   by every verb         all-nullable read schema; absent
    *                                                         reads footer-first
    * constraints            advisory   non-empty             (name, SQL) CHECKs every write verb
    *                        per entry                        enforces before staging
    * defaults               strict     non-empty             (column path, sinceVersion, SQL):
    *                                                         older dirs read the constant
    * colMap                 strict     non-empty             logical column path -> physical name
    * gens                   strict     non-empty             (column, SQL) generated columns
    * partitionBy            strict     non-empty             partition columns (kept in the files)
    * partVals (parts)       strict     with partitionBy      dir -> partition values
    * dv                     strict     non-empty             dir -> deletion vector under _dv/
    * statsCols              advisory   with stats            columns the stats describe
    * stats                  advisory   non-empty             dir -> column -> [min, max] (statDomain)
    * fstats                 advisory   non-empty             dir/file -> column -> [min, max]
    * rows                   advisory   non-empty             dir -> exact row count (footers)
    * dvRows                 advisory   with dv               dir -> rows its vector deletes
    * }}}
    *
    * Prune-only evidence (stats, fstats, parts) never filters: a dir or
    * file without an entry is always read. */
  final case class Commit(version: Long, dataDirs: Seq[String], writer: String,
      action: String, stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      rowInvisible: Boolean = false, statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      clusterSpec: Option[String] = None,
      schemaDDL: Option[String] = None,
      tsMs: Option[Long] = None,
      constraints: Seq[(String, String)] = Nil,
      dv: Map[String, String] = Map.empty,
      clusterBy: Option[String] = None,
      defaults: Seq[(String, Long, String)] = Nil,
      colMap: Map[String, String] = Map.empty,
      fstats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      partitionBy: Seq[String] = Nil,
      partVals: Map[String, Seq[String]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      dvRows: Map[String, Long] = Map.empty,
      gens: Seq[(String, String)] = Nil,
      unknownWriterFeatures: Set[String] = Set.empty)

  /** Raised when a commit requires a table feature this binary does not
    * implement (r18 — VERDICT r17 #2, the Delta table-features idea).
    * Deliberately NOT a parse degrade: every route must refuse the table
    * loudly rather than read it wrong (a dv-unaware reader would
    * resurrect deleted rows; a colmap-unaware one would return the wrong
    * columns; a defaults-unaware one NULL where the constant belongs). */
  final class UnsupportedTableFeatureException(msg: String)
    extends IllegalStateException(msg)

  /** The reader-required features THIS binary implements. A commit whose
    * recorded `features` set exceeds it refuses to parse (see
    * [[UnsupportedTableFeatureException]]); a commit writes exactly the
    * features its own state requires (see [[gatedFeatures]]), so a table
    * that stops using one (e.g. a compact materializes all vectors)
    * becomes readable by lesser binaries again. */
  private[graft] val SupportedFeatures: Set[String] =
    Set("dv", "colmap", "colmap-nested", "defaults", "defaults-nested")

  /** The features `c`'s state requires of ANY reader: deletion vectors
    * to anti-join, a column mapping to project through, existence
    * defaults to coalesce. Derived from the commit itself — no caller
    * bookkeeping, and carried state keeps its gate automatically. */
  private[graft] def gatedFeatures(c: Commit): Set[String] = {
    var s = Set.empty[String]
    if (c.dv.nonEmpty) s += "dv"
    if (c.colMap.nonEmpty) s += "colmap"
    // PATH-keyed entries (r18): a top-level-only colmap binary would
    // scan logical nested names that don't exist physically and read
    // silent typed NULLs — gate separately so it refuses instead
    if (c.colMap.keys.exists(_.contains('.'))) s += "colmap-nested"
    if (c.defaults.nonEmpty) s += "defaults"
    // PATH-keyed defaults (r19): a top-level-only defaults binary
    // matches default names against COLUMN names, so a dotted entry
    // would silently never coalesce — old rows would read typed NULL
    // where the recorded constant belongs. Gate separately, refuse
    // loudly instead.
    if (c.defaults.exists(_._1.contains('.'))) s += "defaults-nested"
    s
  }

  /** WRITER feature gates (r18 — the Delta reader/writer-version split):
    * obligations a commit's state places on WRITERS only. Reads of such
    * a table are safe without them — which is exactly why the reader
    * gate cannot cover them: CHECK constraints parse damage-TOLERANT
    * (a reader ignoring them returns correct rows), but a writer that
    * does not enforce them before staging would corrupt the table's
    * declared invariants. A head recording a writer feature outside
    * [[SupportedWriterFeatures]] REFUSES every write verb (reads stay
    * available); our own gate set derives from state like the reader's. */
  private[graft] val SupportedWriterFeatures: Set[String] =
    Set("constraints", "partitioning", "generated")

  private[graft] def gatedWriterFeatures(c: Commit): Set[String] = {
    var s = Set.empty[String]
    if (c.constraints.nonEmpty) s += "constraints"
    // a partition-unaware writer would stage unsplit dirs (breaking the
    // per-dir partition identity restatement granularity) and drop the
    // spec from its carried record; reads stay safe (values in files)
    if (c.partitionBy.nonEmpty) s += "partitioning"
    // a generation-unaware writer would store values violating the
    // recorded expression; reads of stored values stay safe
    if (c.gens.nonEmpty) s += "generated"
    s
  }

  /** Refuse a write verb when the head carries writer obligations this
    * binary does not implement — called by every commit path before any
    * staging I/O. */
  private def requireWritable(c: Commit): Unit =
    if (c.unknownWriterFeatures.nonEmpty)
      throw new UnsupportedTableFeatureException(
        s"graft.commitlog: version ${c.version} requires WRITER table " +
          s"feature(s) ${c.unknownWriterFeatures.toSeq.sorted
            .mkString("'", "', '", "'")} this binary does not implement " +
          s"(supported: ${SupportedWriterFeatures.toSeq.sorted
            .mkString(", ")}) — the table stays READABLE; upgrade the " +
          "binary to write (committing without upholding the recorded " +
          "obligations would corrupt the table's declared invariants)")

  private val Width = 20 // zero-padded version in the filename => lex order

  private def logDir(root: String) = new HPath(root, "_commits")
  private def commitPath(root: String, v: Long) =
    new HPath(logDir(root), "v" + ("%0" + Width + "d").format(v) + ".json")
  // O(1) head pointer (r12, the Delta `_last_checkpoint` idea): an ADVISORY
  // file holding the newest version a writer committed. `versions()` ignores
  // it (names must match v*.json), vacuum's sweeps never touch it, and
  // [[latest]] only trusts it as a STARTING POINT — stale/torn/corrupt
  // degrades to the listing walk, never to a wrong head.
  private def headPath(root: String) = new HPath(logDir(root), "_head")

  private def fs(spark: SparkSession, root: String) =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Create the table root + empty log (idempotent). */
  def init(spark: SparkSession, root: String): Unit =
    fs(spark, root).mkdirs(logDir(root))

  /** API input validation of writer/action tags, constraint names and
    * stats columns: short identifiers keep the audit surface (history,
    * the checkpoint index) greppable. JSON safety does not depend on it —
    * [[encode]] escapes every string. */
  private def requireTag(v: String, what: String): Unit =
    require(v.nonEmpty && v.forall(ch =>
      ch.isLetterOrDigit || ch == '_' || ch == '-' || ch == '.'),
      s"CommitLog $what must be non-empty [A-Za-z0-9_.-]: '$v'")

  /** The commit file's JSON: each field written under the condition the
    * [[Commit]] table gives, in a fixed order, maps keyed in sorted order. */
  private[graft] def encode(c: Commit): String = {
    def nonEmpty(xs: Iterable[_]) = Option.when(xs.nonEmpty)(xs)
    Json.write(
      "version" -> c.version, "dataDirs" -> c.dataDirs,
      "writer" -> c.writer, "action" -> c.action,
      "rowInvisible" -> Option.when(c.rowInvisible)(true),
      "features" -> nonEmpty(gatedFeatures(c).toSeq.sorted),
      "writerFeatures" -> nonEmpty(gatedWriterFeatures(c).toSeq.sorted),
      "ts" -> c.tsMs, "cluster" -> c.clusterSpec, "clusterBy" -> c.clusterBy,
      "txn" -> c.txn.map { case (a, b) => Json.obj("app" -> a, "batch" -> b) },
      "schema" -> c.schemaDDL,
      "constraints" -> nonEmpty(c.constraints.map { case (n, e) =>
        Json.obj("name" -> n, "expr" -> e) }),
      "defaults" -> nonEmpty(c.defaults.map { case (n, v, e) =>
        Json.obj("col" -> n, "since" -> v, "dexpr" -> e) }),
      "colMap" -> nonEmpty(c.colMap.toSeq.sortBy(_._1).map { case (l, p) =>
        Json.obj("l" -> l, "p" -> p) }),
      "gens" -> nonEmpty(c.gens.map { case (n, e) =>
        Json.obj("col" -> n, "gexpr" -> e) }),
      "partitionBy" -> nonEmpty(c.partitionBy),
      "parts" -> nonEmpty(c.partVals).filter(_ => c.partitionBy.nonEmpty),
      "dv" -> nonEmpty(c.dv),
      "statsCols" -> nonEmpty(c.statsCols).filter(_ => c.stats.nonEmpty),
      "stats" -> nonEmpty(c.stats), "fstats" -> nonEmpty(c.fstats),
      "rows" -> nonEmpty(c.rows),
      "dvRows" -> nonEmpty(c.dvRows).filter(_ => c.dv.nonEmpty))
  }

  /** Version `v`'s commit from its file text, by the [[Commit]] table's
    * contracts: None when the text is not one JSON object (a torn or
    * damaged file) or a strict field is damaged. The reader feature gate
    * is checked first and THROWS on an unknown feature: read as torn,
    * repairTornTail would delete a newer binary's valid commit; skipped,
    * readers would resolve an older head. */
  private[graft] def decode(v: Long, s: String): Option[Commit] =
    Json.parse(s).flatMap { o =>
      import Json.{bool, long, map, pair, seq, str, strict}
      def f(k: String) = o.path(k)
      def ranges(n: com.fasterxml.jackson.databind.JsonNode) =
        map(n)(map(_)(pair))
      for {
        feats <- strict(f("features"), Seq.empty[String])(seq(_)(str))
        unknown = feats.filterNot(SupportedFeatures)
        _ = if (unknown.nonEmpty) throw new UnsupportedTableFeatureException(
          s"graft.commitlog: version $v requires table feature(s) " +
            s"${unknown.mkString("'", "', '", "'")} this reader does not " +
            s"implement (supported: ${SupportedFeatures.toSeq.sorted
              .mkString(", ")}) — upgrade the binary; reading through " +
            "would corrupt results (resurrected deletes, wrong columns, " +
            "missing defaults)")
        dirs <- seq(f("dataDirs"))(str).filter(_.nonEmpty)
        writer <- str(f("writer"))
        action <- str(f("action"))
        dv <- strict(f("dv"), Map.empty[String, String])(map(_)(str))
        defaults <- strict(f("defaults"), Seq.empty[(String, Long, String)])(
          seq(_)(e => for (c <- str(e.path("col"));
            since <- long(e.path("since")); x <- str(e.path("dexpr")))
            yield (c, since, x)))
        colMap <- strict(f("colMap"), Seq.empty[(String, String)])(
          seq(_)(e => for (l <- str(e.path("l")); p <- str(e.path("p")))
            yield l -> p))
        gens <- strict(f("gens"), Seq.empty[(String, String)])(
          seq(_)(e => for (c <- str(e.path("col"));
            x <- str(e.path("gexpr"))) yield c -> x))
        partitionBy <- strict(f("partitionBy"), Seq.empty[String])(
          seq(_)(str))
        partVals <- strict(f("parts"), Map.empty[String, Seq[String]])(
          map(_)(seq(_)(str)))
      } yield Commit(v, dirs, writer, action,
        // advisory fields: absent or damaged reads as empty
        stats = ranges(f("stats")).getOrElse(Map.empty),
        rowInvisible = bool(f("rowInvisible")).contains(true),
        statsCols = seq(f("statsCols"))(str).getOrElse(Nil),
        txn = for (a <- str(f("txn").path("app"));
          b <- long(f("txn").path("batch"))) yield (a, b),
        clusterSpec = str(f("cluster")), schemaDDL = str(f("schema")),
        tsMs = long(f("ts")),
        // per entry: one damaged constraint does not drop the others
        constraints = seq(f("constraints"))(e => Some(
          for (n <- str(e.path("name")); x <- str(e.path("expr")))
            yield n -> x)).getOrElse(Nil).flatten,
        dv = dv, clusterBy = str(f("clusterBy")), defaults = defaults,
        colMap = colMap.toMap,
        fstats = ranges(f("fstats")).getOrElse(Map.empty),
        partitionBy = partitionBy, partVals = partVals,
        rows = map(f("rows"))(long).getOrElse(Map.empty),
        dvRows = map(f("dvRows"))(long).getOrElse(Map.empty),
        gens = gens,
        unknownWriterFeatures = seq(f("writerFeatures"))(str)
          .getOrElse(Nil).toSet -- SupportedWriterFeatures)
    }

  /** All version numbers present in the log (committed OR torn), ascending. */
  private def versions(spark: SparkSession, root: String): Seq[Long] =
    versionsWith(fs(spark, root), root)

  private def versionsWith(f: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[Long] = {
    if (!f.exists(logDir(root))) Nil
    else f.listStatus(logDir(root)).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .flatMap(n => scala.util.Try(n.substring(1, n.length - 5).toLong).toOption)
      .sorted
  }

  private def readCommitFile(spark: SparkSession, root: String,
      v: Long): Option[Commit] =
    readCommitWith(fs(spark, root), root, v)

  private def readCommitWith(f: org.apache.hadoop.fs.FileSystem,
      root: String, v: Long): Option[Commit] =
    // a concurrent vacuum may delete a listed commit file between the
    // listing and this read — absence reads as "not a commit" (the same
    // degrade every caller already handles: skip / no watermark / resync)
    Json.readFile(f, commitPath(root, v)).flatMap(decode(v, _))

  /** Best-effort write of the head pointer after a won claim. Plain
    * overwrite, deliberately NOT atomic: two winners racing the pointer can
    * only leave a STALE-LOW value (each writes its own version; version
    * numbers only grow, and a torn read of a decimal prefix is ≤ the full
    * number), which [[latest]] repairs by probing forward. Failure is
    * swallowed — the pointer is pure advice. */
  private def writeHeadPointer(f: org.apache.hadoop.fs.FileSystem,
      root: String, v: Long): Unit = {
    scala.util.Try {
      val out = f.create(headPath(root), true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    // every claim winner routes through here, so this is the ONE
    // checkpoint cadence hook; advisory like the pointer itself
    maybeWriteCheckpoint(f, root, v)
    ()
  }

  // ---- commit-log CHECKPOINT (r17 — VERDICT r16 #5, the Delta
  // `_last_checkpoint` idea adapted to self-contained commits): every
  // [[CheckpointInterval]]-th claim winner folds the metadata INDEX of
  // all retained commits — (version, ts, writer, action, …), NOT the
  // data state, which each commit already records in full — into ONE
  // advisory `_commits/_checkpoint.json`. A cold history()/timestamp
  // resolution then costs O(1) file reads + O(commits since the
  // checkpoint) instead of O(retained history) tiny JSON reads — at a
  // high commit rate with time-based retention that is thousands of
  // point reads saved per cold open. STRICTLY advisory: a missing,
  // torn, or damaged checkpoint reads as None and every consumer falls
  // back to the full walk (the head-pointer degrade rule); two racing
  // winners both write valid contents (the index is derived from
  // immutable commit files), last-write-wins. Vacuum REWRITES the file
  // dropping swept entries (never references swept versions); the
  // sweep→rewrite window is covered by the reader's leading existence
  // probe. ----
  private[sources] val CheckpointInterval = 10L
  private def checkpointPath(root: String) =
    new HPath(logDir(root), "_checkpoint.json")

  /** One retained commit's metadata-index row — everything [[history]]
    * and the timestamp clock need, nothing a data read needs. */
  private[sources] case class IndexEntry(v: Long, ts: Option[Long],
      writer: String, action: String, inv: Boolean, ndirs: Int,
      cluster: Option[String], txn: Option[(String, Long)],
      cons: Seq[String])

  private def entryOf(c: Commit): IndexEntry =
    IndexEntry(c.version, c.tsMs, c.writer, c.action, c.rowInvisible,
      c.dataDirs.size, c.clusterSpec, c.txn, c.constraints.map(_._1))

  /** An index row is read strictly: a half-readable index could silently
    * hide history, so any damage drops the whole checkpoint. */
  private def entryFrom(n: com.fasterxml.jackson.databind.JsonNode)
      : Option[IndexEntry] = {
    import Json.{bool, long, optional, seq, str, strict}
    for {
      v <- long(n.path("v")); ts <- optional(n.path("ts"))(long)
      writer <- str(n.path("writer")); action <- str(n.path("action"))
      inv <- bool(n.path("inv")); ndirs <- long(n.path("ndirs"))
      cluster <- optional(n.path("cluster"))(str)
      txn <- optional(n.path("txnApp"))(a =>
        for (app <- str(a); b <- long(n.path("txnBatch"))) yield (app, b))
      cons <- strict(n.path("cons"), Seq.empty[String])(seq(_)(str))
    } yield IndexEntry(v, ts, writer, action, inv, ndirs.toInt, cluster,
      txn, cons)
  }

  /** The checkpoint's entries, ascending — None when absent, torn, or
    * damaged in ANY way (every entry must read and versions must strictly
    * ascend). */
  private[sources] def readCheckpoint(f: org.apache.hadoop.fs.FileSystem,
      root: String): Option[Seq[IndexEntry]] =
    scala.util.Try(Json.readFile(f, checkpointPath(root))).toOption.flatten
      .flatMap(Json.parse)
      .flatMap(o => Json.seq(o.path("entries"))(entryFrom))
      .filter(_.sliding(2).forall(w => w.size < 2 || w(0).v < w(1).v))

  private[sources] def writeIndexFile(f: org.apache.hadoop.fs.FileSystem,
      root: String, entries: Seq[IndexEntry]): Unit = {
    val json = Json.write("entries" -> entries.map(e => Json.obj(
      "v" -> e.v, "ts" -> e.ts, "writer" -> e.writer, "action" -> e.action,
      "inv" -> e.inv, "ndirs" -> e.ndirs, "cluster" -> e.cluster,
      "txnApp" -> e.txn.map(_._1), "txnBatch" -> e.txn.map(_._2),
      "cons" -> Option.when(e.cons.nonEmpty)(e.cons))))
    val out = f.create(checkpointPath(root), true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Fold and write the checkpoint when `upTo` hits the cadence —
    * O(CheckpointInterval) commit reads amortized (the prior checkpoint
    * carries everything older); the FIRST checkpoint folds the whole
    * retained history once. Failures are swallowed: advisory. */
  private def maybeWriteCheckpoint(f: org.apache.hadoop.fs.FileSystem,
      root: String, upTo: Long): Unit =
    if (upTo % CheckpointInterval == 0L) {
      scala.util.Try {
        val prev = readCheckpoint(f, root).getOrElse(Nil)
          .filter(_.v <= upTo)
        // drop swept-prefix leftovers (vacuum rewrites, but a crash
        // between its sweep and rewrite must not fossilize phantoms)
        val base = prev.dropWhile(e => !f.exists(commitPath(root, e.v)))
        val start = base.lastOption.map(_.v + 1).getOrElse(
          versionsWith(f, root).headOption.getOrElse(upTo))
        val tail = (start to upTo)
          .flatMap(v => readCommitWith(f, root, v)).map(entryOf)
        writeIndexFile(f, root, base ++ tail)
      }
      ()
    }

  /** The metadata index of every retained commit, ascending — the ONE
    * read path behind [[history]] and the timestamp clock: checkpoint
    * entries (existence-probed past any swept prefix) + a tail walk of
    * the commits after it; full listing walk when no usable checkpoint
    * exists. Equal to the walk by construction — spec-asserted, incl.
    * the corruption fallback. */
  private def commitIndex(spark: SparkSession, root: String): Seq[IndexEntry] = {
    val f = fs(spark, root)
    readCheckpoint(f, root) match {
      case Some(entries) if entries.nonEmpty =>
        val live = entries.dropWhile(e => !f.exists(commitPath(root, e.v)))
        if (live.isEmpty)
          versions(spark, root)
            .flatMap(v => readCommitFile(spark, root, v)).map(entryOf)
        else {
          val tail = Vector.newBuilder[IndexEntry]
          var v = live.last.v + 1
          var c = readCommitFile(spark, root, v)
          while (c.isDefined) {
            tail += entryOf(c.get); v += 1
            c = readCommitFile(spark, root, v)
          }
          live ++ tail.result()
        }
      case _ =>
        versions(spark, root)
          .flatMap(v => readCommitFile(spark, root, v)).map(entryOf)
    }
  }

  /** The advisory head pointer's value, if present and parseable (torn or
    * corrupt content reads as None — the walk fallback). */
  private def readHeadPointer(f: org.apache.hadoop.fs.FileSystem,
      root: String): Option[Long] =
    scala.util.Try(Json.readFile(f, headPath(root)).map(_.trim.toLong))
      .toOption.flatten.filter(_ >= 1)

  /** Newest COMMITTED version (a torn tail file is skipped — that commit
    * never happened; only the tail can be torn since claims are ordered).
    *
    * O(1) fast path (r12): start from the advisory `_commits/_head` pointer
    * and probe FORWARD — retained version numbers are dense (every claim
    * takes latest+1; a repaired torn tail is re-claimed at its own number;
    * vacuum keeps a suffix), so the true head is reachable in O(pointer
    * lag) existence checks instead of an O(retained-history) directory
    * listing. The pointer can only mislead LOW (writers update it after
    * their claim; a torn read is a decimal prefix ≤ the real value), and a
    * pointer at a vacuumed/never-committed version fails its own existence
    * check — both degrade to the listing walk, never to a wrong head. */
  def latest(spark: SparkSession, root: String): Option[Commit] = {
    val f = fs(spark, root)
    val fast = readHeadPointer(f, root).flatMap { v =>
      if (!f.exists(commitPath(root, v))) None // stale beyond retention: walk
      else {
        var cur = v
        while (f.exists(commitPath(root, cur + 1))) cur += 1
        // torn tail: step back down, but never below the pointer — below
        // it we have no existence evidence, so the walk takes over
        var c: Option[Commit] = None
        var i = cur
        while (c.isEmpty && i >= v) { c = readCommitFile(spark, root, i); i -= 1 }
        c
      }
    }
    fast.orElse(
      versions(spark, root).reverse.view
        .flatMap(v => readCommitFile(spark, root, v)).headOption)
  }

  /** Read `dirs` as one frame under the commit's RECORDED table schema
    * (every commit records one): no inference job, and parquet fills
    * columns a pre-evolution directory lacks with typed NULLs, exactly the
    * q_source_evolved union semantics, WITHOUT the footer-merge pass
    * `mergeSchema` would pay — the log already knows the answer. Only a
    * commit written before schemas were recorded reads footer-first. */
  private def readDirs(spark: SparkSession, root: String,
      schemaDDL: Option[String], colMap: Map[String, String],
      dirs: Seq[String], withPos: Boolean = false): DataFrame = {
    val paths = dirs.map(d => s"$root/$d")
    schemaDDL match {
      case Some(ddl) =>
        val logical = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        // COLUMN MAPPING (r16, nested r18): scan under the frozen
        // PHYSICAL names — every dir stores one physical name per
        // column/field, ever — then project back to the logical names.
        // The position columns (when asked for) attach BEFORE the
        // projection: _metadata resolves on the scan. Top-level names
        // restore via the positional toDF; struct columns carrying
        // NESTED mappings additionally take a same-typed struct CAST,
        // which renames fields at every depth without moving data.
        val physical =
          if (colMap.isEmpty) logical else physicalSchema(logical, colMap)
        var df = spark.read.schema(physical).parquet(paths: _*)
        if (withPos) df = df
          .withColumn(DvPathCol, col("_metadata.file_path"))
          .withColumn(DvPosCol, col("_metadata.row_index"))
        if (colMap.isEmpty) df
        else {
          val posNames = if (withPos) Seq(DvPathCol, DvPosCol) else Nil
          val top = df.toDF((logical.fieldNames.toSeq ++ posNames): _*)
          val needCast = logical.fields.zip(physical.fields)
            .exists { case (lf, pf) => lf.dataType != pf.dataType }
          if (!needCast) top
          else top.select((logical.fields.toSeq.zip(physical.fields).map {
            case (lf, pf) =>
              if (pf.dataType == lf.dataType) bt(lf.name)
              else bt(lf.name).cast(lf.dataType).as(lf.name)
          } ++ posNames.map(bt)): _*)
        }
      case None =>
        // a commit from before schemas were recorded (never column-
        // mapped: the activating verb records both) — footer-first
        var df = spark.read.parquet(paths: _*)
        if (withPos) df = df
          .withColumn(DvPathCol, col("_metadata.file_path"))
          .withColumn(DvPosCol, col("_metadata.row_index"))
        df
    }
  }

  private def load(spark: SparkSession, root: String, c: Commit): DataFrame =
    readCommitDirs(spark, root, c, c.dataDirs)

  /** The schema `c` reads under, from its recorded DDL — no file touched.
    * A commit from before schemas were recorded falls back to footer-first
    * inference (one Spark job); the next commit records it. */
  private def schemaOf(spark: SparkSession, root: String, c: Commit): StructType =
    c.schemaDDL.map(ddl => GraftBridge.asNullable(StructType.fromDDL(ddl)))
      .getOrElse(load(spark, root, c).schema)

  /** The DDL a commit records for schema `st`, all nullable — what a
    * parquet read reports whatever the writer declared, so a pinned read
    * cannot be told apart from an inferred one. */
  private def recordedDDL(st: StructType): String =
    GraftBridge.asNullable(st).toDDL

  /** The DDL a commit built on `head` carries: the head's own, or — for
    * a head without one — `headSchema`, its read schema. */
  private def carriedDDL(head: Commit, headSchema: => StructType): String =
    head.schemaDDL.getOrElse(recordedDDL(headSchema))

  // deletion-vector storage (r16): `_dv/<name>` is a tiny parquet dataset
  // of (path, pos) — the (`_metadata.file_path`, `_metadata.row_index`)
  // identity of every logically-deleted row in the dirs the commit maps
  // to it. Names embed `-v<N>` like data dirs, so vacuum's version-target
  // sweep rule applies unchanged.
  private def dvDir(root: String) = new HPath(root, "_dv")
  private[sources] def dvPath(root: String, name: String) =
    new HPath(dvDir(root), name)
  private val DvSchema = StructType.fromDDL("path STRING, pos BIGINT")
  private val DvPathCol = "__graft_dv_path"
  private val DvPosCol = "__graft_dv_pos"
  private val DvDirCol = "__graft_dv_dir"

  // the dir segment of a `_metadata.file_path` / recorded vector `path`
  // (dir names never contain '/'; parquet parts sit directly under the
  // dir) — ONE definition for every DV consumer. `(?:^|/)` accepts both
  // absolute scan paths and the root-relative form vectors persist.
  private def dirOfPath(pathCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions
      .regexp_extract(pathCol, "(?:^|/)(data-[^/]+)/[^/]*$", 1)

  // the ROOT-RELATIVE `dir/file` identity of a scanned data file's
  // `_metadata.file_path`: vectors persist this form. An absolute URI
  // bakes in the table's location spelling, so relocating the table (or
  // reading it through another mount/symlink/scheme spelling) would make
  // every stored vector row match nothing and silently resurrect its
  // deleted rows (Delta stores DV references relative to the table root
  // for the same reason).
  private def relPath(pathCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions
      .regexp_extract(pathCol, "(?:^|/)(data-[^/]+/[^/]*)$", 1)

  /** Prior vectors of `dirs` folded into `newPos` — the new dataset
    * keeps ONE vector generation per dir (readers never chain
    * anti-joins); rows for other dirs sharing an old dataset are
    * filtered out so it stays O(these dirs' deletes). */
  private def foldVectors(spark: SparkSession, root: String, head: Commit,
      dirs: Seq[String], newPos: DataFrame): DataFrame = {
    val oldNames = dirs.flatMap(head.dv.get).distinct
    if (oldNames.isEmpty) newPos
    else newPos.unionByName(
      spark.read.schema(DvSchema)
        .parquet(oldNames.map(n => dvPath(root, n).toString): _*)
        .filter(dirOfPath(col("path")).isin(dirs: _*)))
  }

  /** Plain schema-pinned, mapping-translated read of `dirs` under `c` —
    * for consumers that have already PROVEN the dirs carry no deletion
    * vectors AND no applicable defaults. The streaming tail's chain walk
    * proves only the FIRST half (it throws on any dv/colMap change, so
    * within a valid window added dirs are unvectored) — a defaults
    * commit is rowInvisible and does NOT break the chain, so a dir
    * appended before an ADD COLUMNS … DEFAULT in the same window CAN
    * carry applicable defaults (ADVICE r16); callers must check
    * [[dirsNeedDefaults]] and route through [[readCommitDirs]] when it
    * fires. */
  private[graft] def readDirsOf(spark: SparkSession, root: String,
      c: Commit, dirs: Seq[String]): DataFrame =
    readDirs(spark, root, c.schemaDDL, c.colMap, dirs)

  /** Read a SUBSET of `c`'s dirs with `c`'s deletion vectors AND
    * existence defaults applied — the ONE visible-rows read every
    * consumer (snapshot loads, the copy-on-write verbs' affected-dir
    * rebuilds, skipping/point reads) routes through, so no code path
    * can resurrect a DV-deleted row or drop a recorded default. Tables
    * with neither pay nothing (the plain pinned-schema scan). */
  private[graft] def readCommitDirs(spark: SparkSession, root: String,
      c: Commit, dirs: Seq[String]): DataFrame =
    readVisible(spark, root, c, dirs, withPos = false)

  /** Same, with the (file, position) identity retained as
    * [[DvPathCol]]/[[DvPosCol]] — the DV delete path keeps them to
    * stage the next vector. */
  private def visibleWithPos(spark: SparkSession, root: String,
      c: Commit, dirs: Seq[String]): DataFrame =
    readVisible(spark, root, c, dirs, withPos = true)

  /** True when reading `c` needs the MERGE-ON-READ plan — deletion
    * vectors to anti-join, existence defaults applying to at least one
    * live dir, or an active column mapping to project through — rather
    * than a bare file scan. The connector routes key their plan choice
    * on this so they can never read a vectored, defaulted, or mapped
    * commit raw. */
  private[graft] def needsMergeOnRead(c: Commit): Boolean =
    c.dv.nonEmpty || c.colMap.nonEmpty ||
      (c.defaults.nonEmpty && c.dataDirs.exists(d => defaultsFor(c, d).nonEmpty))

  /** True when any of `dirs` has an existence default applying under
    * `c` — the streaming incremental batch's route decision (ADVICE
    * r16): a dir appended BEFORE an ADD COLUMNS … DEFAULT recorded later
    * in the same offset window must read defaults-aware, or the batch
    * delivers NULL where every snapshot route delivers the constant. */
  private[graft] def dirsNeedDefaults(c: Commit, dirs: Seq[String]): Boolean =
    c.defaults.nonEmpty && dirs.exists(d => defaultsFor(c, d).nonEmpty)

  /** `name` as a column reference that NEVER parses as a nested path —
    * backticked, with embedded backticks doubled (frozen physical names
    * are user logical names or col-uuids; a dotted one must not resolve
    * as field extraction). */
  private def bt(name: String): org.apache.spark.sql.Column =
    col("`" + name.replace("`", "``") + "`")

  /** The PHYSICAL schema a logical schema scans (and stages) under:
    * every field at every depth takes its frozen physical name from the
    * path-keyed map — top-level entries are the r16 map unchanged;
    * NESTED entries (r18 — VERDICT r17 #3) key by the dot-joined
    * logical path ("s.f"). Unmapped names are identity. Types are
    * untouched: a physical schema differs from its logical twin in
    * NAMES only, which is what makes the projection back a plain
    * struct cast. */
  private def physicalSchema(logical: org.apache.spark.sql.types.StructType,
      colMap: Map[String, String]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    def walk(st: StructType, prefix: String): StructType =
      StructType(st.fields.map { f =>
        val lp = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        val dt = f.dataType match {
          case s: StructType => walk(s, lp)
          case other => other
        }
        f.copy(name = colMap.getOrElse(lp, f.name), dataType = dt)
      })
    walk(logical, "")
  }

  /** A logical-named frame renamed to its PHYSICAL staging names under
    * an active column mapping (identity otherwise) — every partial-
    * rewrite verb writes through this, so all dirs stay uniformly
    * physical-named; full rewrites materialize logical names instead.
    * Top-level names rename positionally (toDF); struct columns under a
    * NESTED mapping (r18) additionally cast to their physical struct
    * type, renaming inner fields without moving data. */
  private def toPhysical(df: DataFrame, colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else {
      val phys = physicalSchema(
        org.apache.spark.sql.types.StructType(df.schema.fields), colMap)
      val top = df.toDF(phys.fieldNames.toSeq: _*)
      val needCast = df.schema.fields.zip(phys.fields)
        .exists { case (lf, pf) => lf.dataType != pf.dataType }
      if (!needCast) top
      else top.select(phys.fields.toSeq.map { pf =>
        val c = bt(pf.name)
        if (top.schema(pf.name).dataType == pf.dataType) c
        else c.cast(pf.dataType).as(pf.name)
      }: _*)
    }

  /** The version a dir/vector name embeds (`…-v<N>`): the claim target
    * it was staged for — what existence defaults and vacuum's sweep
    * rule key on. None for foreign names (read as stored; every
    * engine-written artifact carries the suffix). */
  private def nameVersion(name: String): Option[Long] = {
    val i = name.lastIndexOf("-v")
    if (i < 0) None
    else scala.util.Try(name.substring(i + 2).toLong).toOption
  }

  /** The existence defaults applying to `dir` under `c`: those recorded
    * at a version AFTER the dir was staged — the dir predates the
    * column, so its typed-NULL fill coalesces to the constant. Dirs at
    * or after `since` store explicit values (an explicit NULL stays
    * NULL). */
  private def defaultsFor(c: Commit, dir: String): Seq[(String, String)] =
    if (c.defaults.isEmpty) Nil
    else nameVersion(dir) match {
      case Some(v) =>
        c.defaults.collect { case (n, since, e) if v < since => (n, e) }
      case None => Nil
    }

  /** The recorded type at dot-joined `path` in `schemaDDL` (None when
    * unresolvable) — what a default's constant casts to at read, so a
    * later safe WIDENING of the defaulted column re-casts the same
    * recorded text to the wider type. */
  private def typeAtPath(schemaDDL: Option[String], path: String)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.StructType
    def walk(st: StructType, segs: List[String])
        : Option[org.apache.spark.sql.types.DataType] = segs match {
      case Nil => None
      case seg :: rest =>
        st.fields.find(_.name == seg).flatMap { f =>
          if (rest.isEmpty) Some(f.dataType)
          else f.dataType match {
            case inner: StructType => walk(inner, rest)
            case _ => None
          }
        }
    }
    schemaDDL.flatMap(ddl => walk(StructType.fromDDL(ddl),
      path.split('.').toList))
  }

  /** Coalesce each defaulted column to its recorded constant, cast to
    * the recorded schema's type; non-defaulted columns (including the
    * DV position columns) pass through untouched. Dot-keyed entries
    * (r19 — NESTED existence defaults) rebuild their top-level struct
    * with `withField`, coalescing the FIELD: a pre-evolution dir's
    * clipped typed-NULL fill reads the constant wherever the parent
    * struct EXISTS; a NULL parent stays NULL (the row genuinely holds
    * no struct — `withField` on a NULL struct is NULL, exactly the
    * contract), and post-`since` dirs never reach here (an explicit
    * NULL field stays NULL). */
  private def applyDefaults(df: DataFrame, defs: Seq[(String, String)],
      schemaDDL: Option[String]): DataFrame =
    if (defs.isEmpty) df
    else {
      val F = org.apache.spark.sql.functions
      def typedDefault(n: String, e: String): Column = {
        val d = F.expr(e)
        typeAtPath(schemaDDL, n).map(d.cast).getOrElse(d)
      }
      val (nested, top) = defs.partition(_._1.contains('.'))
      val nestedByTop = nested.groupBy(_._1.takeWhile(_ != '.'))
      df.select(df.columns.toSeq.map { cn =>
        val base = top.find(_._1 == cn) match {
          case Some((n, e)) => F.coalesce(col(n), typedDefault(n, e))
          case None => col(cn)
        }
        nestedByTop.get(cn) match {
          case Some(ds) => ds.foldLeft(base) { case (c0, (n, e)) =>
            c0.withField(n.substring(cn.length + 1),
              F.coalesce(col(n), typedDefault(n, e)))
          }.as(cn)
          case None => base.as(cn)
        }
      }: _*)
    }

  /** The visible-rows read: dirs grouped by their applicable existence
    * defaults (at most a handful of groups — one per evolution
    * generation with live pre-evolution dirs), each group anti-joined
    * against its deletion vectors ((`_metadata.file_path`,
    * `_metadata.row_index`) identity; the vectors are threshold-bounded
    * so Catalyst broadcasts the build side) and default-coalesced, then
    * unioned by name. */
  private def readVisible(spark: SparkSession, root: String, c: Commit,
      dirs: Seq[String], withPos: Boolean): DataFrame = {
    if (c.dv.isEmpty && c.defaults.isEmpty && !withPos)
      return readDirs(spark, root, c.schemaDDL, c.colMap, dirs)
    val groups = dirs.groupBy(d => defaultsFor(c, d)).toSeq
      .sortBy(_._2.headOption.getOrElse(""))
    val parts = groups.map { case (defs, ds) =>
      val names = ds.flatMap(c.dv.get).distinct
      val needPos = withPos || names.nonEmpty
      var df = readDirs(spark, root, c.schemaDDL, c.colMap, ds,
        withPos = needPos)
      if (names.nonEmpty) {
        val dv = spark.read.schema(DvSchema)
          .parquet(names.map(n => dvPath(root, n).toString): _*)
        // the scan's file_path is absolute under WHATEVER spelling this
        // reader used; the vector stores `dir/file` — relativizing the
        // scan side makes the match location-independent
        df = df.join(dv,
          relPath(df(DvPathCol)) === dv("path") &&
            df(DvPosCol) === dv("pos"),
          "left_anti")
      }
      if (!withPos && needPos) df = df.drop(DvPathCol, DvPosCol)
      applyDefaults(df, defs, c.schemaDDL)
    }
    parts.reduce(_.unionByName(_))
  }

  /** Load a specific Commit's snapshot (dirs are immutable, so a Commit
    * handle stays readable until vacuumed — the anchor for consumers that
    * must read and version-stamp ATOMICALLY against one log listing). */
  def readCommit(spark: SparkSession, root: String, c: Commit): DataFrame =
    load(spark, root, c)

  /** Load the newest committed snapshot (None = table has no commits). */
  def readLatest(spark: SparkSession, root: String): Option[DataFrame] =
    latest(spark, root).map(c => load(spark, root, c))

  /** What the parquet FOOTERS of a commit's new `dirs` record (the Delta
    * AddFile-stats idea): one O(KB) driver-side footer read per file — no
    * Spark job, no data bytes. Per dir the EXACT row count (`rows`, so
    * planning statistics report truth); per column of `cols` (stored under
    * its PHYSICAL name through `colMap`) its [min, max] in the
    * [[statDomain]] long domain over the dir (`stats`, dirs without any
    * absent) and over each file (`fstats`, keyed `dir/file`, only for dirs
    * with stats). Each domain mapping is monotone, so the mapped footer min
    * is the min of the mapped values. All-null chunks add nothing; a chunk
    * without usable min/max (INT96, a string past parquet's 4 KB stats
    * limit, a NaN, a value outside the long domain) leaves its file and
    * dir with no stats for that column: "no stats, always read". */
  private[graft] final case class Footers(
      stats: Map[String, Map[String, (Long, Long)]],
      fstats: Map[String, Map[String, (Long, Long)]],
      rows: Map[String, Long])

  private[graft] def footers(spark: SparkSession, root: String,
      dirs: Seq[String], cols: Seq[String],
      colMap: Map[String, String] = Map.empty): Footers = {
    import scala.jdk.CollectionConverters._
    type Range = Option[(Long, Long)] // None: no non-null value seen
    // None = unusable; Some(range) folds by min/max
    def fold(a: Option[Range], b: Option[Range]): Option[Range] =
      for (x <- a; y <- b) yield (x ++ y).reduceOption((p, q) =>
        (math.min(p._1, q._1), math.max(p._2, q._2)))
    def chunk(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
        : Option[Range] = {
      val st = cc.getStatistics
      val m = footerDomain(cc.getPrimitiveType)
      if (st.hasNonNullValue)
        for (lo <- m(st.genericGetMin); hi <- m(st.genericGetMax))
          yield Some((lo, hi))
      else if (st.isNumNullsSet && st.getNumNulls == cc.getValueCount) Some(None)
      else None
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(spark, root)
    val perDir = dirs.map { d =>
      val files = Option(f.listStatus(new HPath(root, d))).toSeq.flatten
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
          try {
            val blocks = r.getFooter.getBlocks.asScala.toSeq
            val ranges = cols.map { c =>
              val phys = colMap.getOrElse(c, c)
              c -> blocks.foldLeft(Option[Range](None)) { (acc, b) =>
                fold(acc, b.getColumns.asScala.find(cc =>
                  cc.getPath.size == 1 && cc.getPath.toArray()(0) == phys)
                  .flatMap(chunk))
              }
            }
            (st.getPath.getName, r.getRecordCount, ranges.toMap)
          } finally r.close()
        }
      val dirStats = cols.flatMap(c => files.map(_._3(c))
        .foldLeft(Option[Range](None))(fold).flatten.map(c -> _)).toMap
      val fileStats =
        if (dirStats.isEmpty) Nil
        else files.map { case (name, _, ranges) =>
          s"$d/$name" -> ranges.collect { case (c, Some(Some(r))) => c -> r }.toMap
        }.filter(_._2.nonEmpty)
      (d, dirStats, fileStats, files.map(_._2).sum)
    }
    Footers(perDir.collect { case (d, s, _, _) if s.nonEmpty => d -> s }.toMap,
      perDir.flatMap(_._3).toMap, perDir.map(t => t._1 -> t._4).toMap)
  }

  /** A footer min/max value mapped into the [[statDomain]] long domain by
    * the chunk's parquet type — None for a type without a mapping, or
    * for a value the domain cannot hold (the cases a cast would refuse). */
  private def footerDomain(t: org.apache.parquet.schema.PrimitiveType)
      : Any => Option[Long] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val integral: Any => Option[Long] =
      v => Some(v.asInstanceOf[Number].longValue)
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (INT32 | INT64, null | _: DateLogicalTypeAnnotation) => integral
      case (INT32 | INT64, i: IntLogicalTypeAnnotation) if i.isSigned => integral
      // epoch SECONDS (floor) — the domain's timestamp and NTZ image
      case (INT64, ts: TimestampLogicalTypeAnnotation)
          if ts.getUnit != TimeUnit.NANOS =>
        val perSec = if (ts.getUnit == TimeUnit.MILLIS) 1000L else 1000000L
        v => Some(Math.floorDiv(v.asInstanceOf[Long].longValue, perSec))
      case (BOOLEAN, null) => v => Some(if (v.asInstanceOf[Boolean]) 1L else 0L)
      // a fractional cast truncates toward zero; NaN/±Inf/out of range
      // would make the cast fail, so they carry no stats
      case (FLOAT | DOUBLE, null) => { v =>
        val x = v.asInstanceOf[Number].doubleValue
        if (math.floor(x) <= Long.MaxValue.toDouble &&
            math.ceil(x) >= Long.MinValue.toDouble) Some(x.toLong)
        else None
      }
      case (_, dec: DecimalLogicalTypeAnnotation) => { v =>
        val unscaled = v match {
          case b: org.apache.parquet.io.api.Binary =>
            new java.math.BigInteger(b.getBytes)
          case n => java.math.BigInteger.valueOf(n.asInstanceOf[Number].longValue)
        }
        val x = new java.math.BigDecimal(unscaled, dec.getScale).toBigInteger
        if (x.bitLength < 64) Some(x.longValue) else None
      }
      case (BINARY, _: StringLogicalTypeAnnotation) => v =>
        Some(CommitLogSource.encodeStringStat(
          v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8, 0x00))
      case _ => _ => None
    }
  }

  /** Undo hive-style %XX path escaping of a partition value as written
    * by Spark's partitioned writer (the `col=value` dir names) —
    * Spark's OWN inverse of the escaping it applied, so the decoder can
    * never drift from the encoder (code review r19: a hand-rolled copy
    * would silently corrupt recorded partition values if upstream
    * escaping ever changed — and those values feed DELETE/replaceWhere
    * dir selection). */
  private def unescapePathValue(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(v)

  /** Stage `df` SPLIT per partition tuple (r19 — VERDICT r18 #1): ONE
    * write pass (`partitionBy` over shadow string copies of the
    * partition columns, so the real columns STAY IN the files — the
    * Iceberg choice), then each per-tuple leaf renames to its own data
    * dir `data-<uuid>-p<i>-v<tentative>` (version LAST — [[nameVersion]]
    * keys vacuum and existence defaults on the `-v` suffix). Returns
    * dirName → rendered values in `partCols` order. NULL partition
    * values refuse (hive's default-partition marker would alias every
    * null tuple). An empty batch stages no dirs. */
  private def stagePartitioned(spark: SparkSession, root: String,
      df: DataFrame, partCols: Seq[String], colMap: Map[String, String],
      tentative: Long): Seq[(String, Seq[String])] = {
    val f = fs(spark, root)
    val stage = s"stage-${java.util.UUID.randomUUID().toString.take(8)}-v$tentative"
    val phys = partCols.map(c => colMap.getOrElse(c, c))
    val shadows = phys.indices.map(i => s"__gp$i")
    // the shadow names are reserved: a real column called __gp<i> would
    // be silently OVERWRITTEN by withColumn and then stripped from the
    // staged files by partitionBy — refuse loudly instead. Checked on
    // the PHYSICAL frame (code review r19, twice: the first cut checked
    // df.columns, which misses a colMap whose frozen physical name is
    // __gp-prefixed — e.g. a column born '__gp0' later renamed away)
    val physFrame = toPhysical(df, colMap)
    val clash = physFrame.columns.filter(_.startsWith("__gp"))
    require(clash.isEmpty,
      s"CommitLog: physical column name(s) " +
        s"${clash.mkString("'", "', '", "'")} collide with the reserved " +
        "__gp<i> partition-staging shadows — rewrite the table to shed " +
        "them before writing partitioned")
    val tagged = phys.zip(shadows).foldLeft(physFrame) {
      case (d, (p, sh)) =>
        d.withColumn(sh, col("`" + p.replace("`", "``") + "`").cast("string"))
    }
    try {
      tagged.write.mode(SaveMode.Overwrite)
        .partitionBy(shadows: _*).parquet(s"$root/$stage")
      // walk stage/__gp0=a/__gp1=b/… — one leaf per present tuple
      def leaves(p: HPath, depth: Int): Seq[(HPath, Seq[String])] =
        if (depth == shadows.length) Seq((p, Nil))
        else Option(f.listStatus(p)).toSeq.flatten.filter(_.isDirectory)
          .flatMap { st =>
            val n = st.getPath.getName
            val eq = n.indexOf('=')
            if (eq < 0) Nil
            else {
              val v = unescapePathValue(n.substring(eq + 1))
              leaves(st.getPath, depth + 1)
                .map { case (lp, vs) => (lp, v +: vs) }
            }
          }
      val ls = leaves(new HPath(root, stage), 0)
      ls.foreach { case (_, vs) =>
        // Spark renders BOTH null and empty-string partition values as
        // the hive default leaf, so the two are indistinguishable here —
        // the refusal names both (code review r19: a valid '' row used
        // to be rejected with a "must be non-null" message)
        require(!vs.contains("__HIVE_DEFAULT_PARTITION__"),
          s"CommitLog: partition columns (${partCols.mkString(", ")}) " +
            "must be non-null and non-empty — a null (or empty-string) " +
            "tuple has no distinguishable partition identity in the " +
            "hive-style layout")
      }
      ls.zipWithIndex.map { case ((lp, vs), i) =>
        val d = s"data-${java.util.UUID.randomUUID().toString.take(8)}-p$i-v$tentative"
        if (!f.rename(lp, new HPath(root, d)))
          throw new java.io.IOException(
            s"CommitLog: failed to move staged partition $lp to $d")
        d -> vs
      }
    } finally f.delete(new HPath(root, stage), true)
  }

  /** MATERIALIZE omitted generated columns (r19 — VERDICT r18 #2): a
    * batch that does not carry a recorded GENERATED column gets it
    * computed from the recorded expression; supplied columns pass
    * through to [[enforceGenerated]]'s validation instead. A
    * materialized column lands at the END of the frame, so the result
    * re-projects to `headOrder` (code review r19: the positional schema
    * check would otherwise refuse every legitimate omit-and-materialize
    * append on a table whose generated column is declared mid-schema);
    * columns beyond the head — an evolve append's additions — keep
    * their delta order after the head block. */
  private def conformGenerated(df: DataFrame,
      gens: Seq[(String, String)], headOrder: Seq[String]): DataFrame = {
    val withGens = gens.foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.contains(n)) d
      else d.withColumn(n, org.apache.spark.sql.functions.expr(e))
    }
    if (withGens eq df) df
    else {
      val present = withGens.columns.toSet
      val ordered = headOrder.filter(present) ++
        withGens.columns.filterNot(headOrder.contains(_))
      withGens.select(ordered.map(c =>
        col("`" + c.replace("`", "``") + "`")): _*)
    }
  }

  /** REFUSE a batch whose supplied values for a GENERATED column differ
    * from the recorded expression (null-safe comparison — the Delta
    * rule: supply the generated value exactly, or omit the column). */
  private def enforceGenerated(df: DataFrame,
      gens: Seq[(String, String)]): Unit =
    gens.foreach { case (n, e) =>
      if (df.columns.contains(n)) {
        val bad = df.filter(!(col("`" + n.replace("`", "``") + "`") <=>
          org.apache.spark.sql.functions.expr(e))).take(1)
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"CommitLog: GENERATED ALWAYS AS column '$n' must equal ($e); " +
            s"got ${bad.head} — omit the column or supply the generated " +
            "value; the batch was rejected before any commit")
      }
    }

  /** The per-file stats entries belonging to `dirs` — the carry filter
    * every dir-carrying commit applies (entries key as `dir/file`). */
  private def carryFstats(fstats: Map[String, Map[String, (Long, Long)]],
      dirs: Seq[String]): Map[String, Map[String, (Long, Long)]] =
    if (fstats.isEmpty) fstats
    else {
      val pre = dirs.map(_ + "/")
      fstats.filter { case (k, _) => pre.exists(k.startsWith) }
    }

  /** True when file `dir/file` of `c` may hold rows satisfying every
    * probe — files without recorded per-file stats are always kept
    * (advisory, prune-only). Probes are in the typed domain; fstats are
    * ALWAYS typed (the field postdates the encoding), so no per-dir
    * generation gate applies here. */
  private[graft] def fileKeep(c: Commit, dir: String, file: String,
      probes: Seq[(String, Long, Long)]): Boolean =
    probes.isEmpty ||
      c.fstats.get(s"$dir/$file").forall(byCol =>
        probes.forall { case (cn, lo, hi) =>
          byCol.get(cn).forall { case (fLo, fHi) => fHi >= lo && fLo <= hi }
        })

  /** Type equality IGNORING nullability at every depth (r17): top-level
    * comparisons already ignore nullability (it lives on StructField,
    * not DataType), but struct-valued columns smuggle nested
    * nullability into DataType equality — a delta built from non-null
    * literals would spuriously mismatch the recorded nullable DDL
    * despite identical names and types at every level. Writing
    * non-null values into a nullable field is always safe. */
  private def sameTypeLoose(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall {
          case (f, g) => f.name == g.name &&
            sameTypeLoose(f.dataType, g.dataType) }
      case (x: ArrayType, y: ArrayType) =>
        sameTypeLoose(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameTypeLoose(x.keyType, y.keyType) &&
          sameTypeLoose(x.valueType, y.valueType)
      case _ => a == b
    }
  }

  /** A column mapped into the ONE long stats domain (r17 — VERDICT r16
    * #2, typed data skipping): integrals cast exactly (the pre-r17
    * behavior); DATEs take their epoch-day (the Catalyst literal's
    * internal value) and TIMESTAMPs their epoch-SECONDS — the legacy
    * cast's domain, kept byte-identical so mixed histories prune
    * soundly; the literal side floor-divides its internal micros to
    * match; STRINGs take their first 7
    * UTF-8 bytes as a zero-right-padded big-endian unsigned long — a
    * MONOTONE (non-strict) image of Spark's binary string order, so the
    * [min, max] of the encoding is a sound conservative range for any
    * string predicate's encoded bounds (two strings sharing a 7-byte
    * prefix collide, which only ever widens a range, never narrows it).
    * Anything else keeps the legacy cast (null ⇒ no stats recorded).
    * The JVM twin is [[CommitLogSource.encodeStringStat]]; the two MUST
    * agree byte-for-byte or pruning would be unsound. */
  private[graft] def statDomain(c: org.apache.spark.sql.Column,
      dt: Option[org.apache.spark.sql.types.DataType])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    dt match {
      case Some(StringType) =>
        // first 7 UTF-8 bytes, hex'd, right-padded with zero BYTES to 14
        // hex digits, read back base-16: 56 bits, always < Long.Max
        org.apache.spark.sql.functions.conv(
          org.apache.spark.sql.functions.rpad(
            org.apache.spark.sql.functions.hex(
              org.apache.spark.sql.functions.substring(
                org.apache.spark.sql.functions.encode(c, "UTF-8"), 1, 7)),
            14, "0"),
          16, 10).cast("long")
      case Some(DateType) => org.apache.spark.sql.functions.unix_date(c)
        .cast("long")
      // SECONDS, not micros: pre-r17 dirs recorded timestamp stats via
      // the legacy cast (epoch seconds, floorDiv) — the domain must stay
      // byte-identical or a mixed history would misprune; the literal
      // side floor-divides its internal micros to match. Second
      // granularity only loosens bounds (conservative).
      case Some(TimestampType) => org.apache.spark.sql.functions.unix_seconds(c)
      // NTZ: zone-independent epoch seconds (floor). It cannot cast to
      // long, and routing through an LTZ cast would shift by the SESSION
      // zone — unsound against the literal side's zone-free internal
      // micros. days*86400 + time-of-day seconds equals
      // floorDiv(internal micros, 1e6) exactly, on any session zone.
      case Some(TimestampNTZType) =>
        org.apache.spark.sql.functions.unix_date(c.cast(DateType))
          .cast("long") * lit(86400L) +
          org.apache.spark.sql.functions.hour(c).cast("long") * lit(3600L) +
          org.apache.spark.sql.functions.minute(c).cast("long") * lit(60L) +
          org.apache.spark.sql.functions.second(c).cast("long")
      case _ => c.cast("long")
    }
  }

  /** DATA-SKIPPING READ: the head filtered to `statsCol BETWEEN lo AND hi`,
    * scanning only the directories whose recorded [min, max] intersect the
    * range — dirs without stats are always scanned, and the row-level
    * predicate is still applied after pruning, so the result equals
    * `readLatest.filter(...)` by construction (stats prune at directory
    * granularity; the predicate finishes the job). At 100 TB this is what
    * turns a key-range probe of a long append history into an O(matching
    * dirs) listing + scan instead of an O(history) one — the same
    * planning-cost cliff SCALE.md measured for file listings, solved at
    * the metadata layer. */
  def readLatestWhere(spark: SparkSession, root: String, statsCol: String,
      lo: Long, hi: Long): Option[DataFrame] =
    latest(spark, root).map { c =>
      val keep = statsKeepDirs(c, statsCol, lo, hi)
      // every dir pruned ⇒ provably-empty result; one dir anchors the
      // schema (its rows are filtered out by the predicate)
      val dirs = if (keep.nonEmpty) keep else c.dataDirs.take(1)
      readCommitDirs(spark, root, c, dirs)
        .filter(col(statsCol).cast("long").between(lo, hi))
    }

  /** The dirs of `c` whose recorded [min, max] for `statsCol` intersect
    * [lo, hi] — [[readLatestWhere]]'s planning decision, shared with the
    * `graft.commitlog` connector's FileIndex so the two routes can never
    * prune differently. Stats prune only when the commit records
    * `statsCol` among its stats columns — a range over another column
    * scans everything instead of wrongly pruning — and a dir without a
    * range for it is always kept. */
  private[graft] def statsKeepDirs(c: Commit, statsCol: String, lo: Long,
      hi: Long): Seq[String] =
    if (!c.statsCols.contains(statsCol)) c.dataDirs
    else c.dataDirs.filter(d => c.stats.get(d).flatMap(_.get(statsCol))
      .forall { case (dLo, dHi) => dHi >= lo && dLo <= hi })

  /** The Commit record at version `v` (None if vacuumed or never
    * committed) — the metadata half of [[readVersion]], for callers that
    * plan their own scan over the version's immutable directories (the
    * `graft.commitlog` connector's time travel). */
  def commitAt(spark: SparkSession, root: String, v: Long): Option[Commit] =
    // a direct point read: readCommitFile already returns None for a
    // missing or torn file, so a versions() listing first would re-pay the
    // O(retained-history) walk the head pointer exists to avoid
    readCommitFile(spark, root, v)

  /** Load a specific committed version — time travel over retained
    * history (None if that version was vacuumed or never committed). */
  def readVersion(spark: SparkSession, root: String, v: Long): Option[DataFrame] =
    commitAt(spark, root, v).map(c => load(spark, root, c))

  /** INCREMENTAL consumption: the rows ADDED after `sinceVersion` — the
    * data directories row-VISIBLE commits after that version introduced
    * (None when the consumer is already at head; empty-schema-safe:
    * a caller unions with its prior state). Correct whenever the commits
    * since `sinceVersion` are appends or rowInvisible compactions —
    * compaction rewrites directories but not rows, so consumers skip it
    * (Some of an EMPTY frame when compacts are all that happened: the
    * checkpoint advances, nothing re-delivers). If a genuine rewrite
    * commit intervened, directory identity no longer means row identity,
    * so this returns None and the caller must fall back to a full read or
    * a row-level diff ([[graft.operators.DataModel.snapshotDiff]] is that
    * fallback). This is the "give me documents added since my last
    * training run" pattern: cost = the new rows' scan, never the
    * table's — and a scheduled OPTIMIZE never re-delivers the table. */
  def appendedSince(spark: SparkSession, root: String,
      sinceVersion: Long): Option[DataFrame] =
    latest(spark, root).flatMap(h =>
      appendedSince(spark, root, sinceVersion, h))

  /** Same, against a CALLER-HELD head commit — the atomic form: a
    * consumer that lists the log once and both reads and version-stamps
    * from that one Commit cannot mis-attribute rows landed by a
    * concurrent commit between two listings. */
  def appendedSince(spark: SparkSession, root: String, sinceVersion: Long,
      head: Commit): Option[DataFrame] = {
    // vacuumed-base case: readCommitFile reads absence as None — the base
    // is gone (or never existed) and incrementality is impossible — the
    // caller's resync path; a point read, never an O(history) listing
    val base = readCommitFile(spark, root, sinceVersion)
    base match {
      case Some(b) if head.version > b.version =>
        deltaDirs(spark, root, b, head).map { added =>
          if (added.nonEmpty)
            // head-schema read: an evolution inside the window delivers
            // pre-evolution dirs with typed NULLs instead of a
            // first-file-schema franken-read — old consumers ride through
            readDirs(spark, root, head.schemaDDL, head.colMap, added)
          else
            // only rowInvisible commits (compact) since the base: the
            // table moved but no row did — an EMPTY delta, so the
            // consumer advances its checkpoint without resyncing
            load(spark, root, head).limit(0)
        }
      case _ => None
    }
  }

  private def broadcastIf(small: Boolean, df: DataFrame): DataFrame =
    if (small) broadcast(df) else df

  private def changesDir(root: String) = new HPath(root, "_changes")
  // CDF files are keyed by the MERGE COMMIT'S NEW DATA DIR name, not the
  // version: the dir name exists before the claim, so the feed can be
  // written BEFORE the commit becomes visible — a reader that can see
  // the merge commit can always see its feed (no claim-to-CDF-write
  // window forcing spurious resyncs), a lost claim deletes both, and
  // vacuum sweeps the feed by the same dir-keyed rule as bloom sidecars.
  private def changesPath(root: String, dir: String) =
    new HPath(changesDir(root), dir)

  /** Row-level CHANGE FEED from `sinceVersion` (exclusive) to the head —
    * the Delta CDF shape and vocabulary: payload columns plus
    * `_change_type` (`insert` | `update_preimage` | `update_postimage` |
    * `delete`, where pre-images and deletes carry the STORED row being
    * replaced/removed) and `_commit_version`. Keyed state folds in
    * `_commit_version` order (delete drops the key, insert/postimage
    * puts the row, preimages are informational); aggregates fold
    * ALGEBRAICALLY — every row carries sign +1 (insert/postimage) or −1
    * (preimage/delete), so a downstream SUM/COUNT is maintainable from
    * the feed alone ([[graft.operators.DataModel.maintainAggFromChanges]]).
    * Storage cost is
    * asymmetric by design: appends synthesize their `insert` rows from
    * the commit's own data dirs (zero extra storage — the common case at
    * 100 TB); a merge persists its changeset (tiny, the changeset's own
    * size) to `_changes/<newDir>` BEFORE claiming — keyed by its new
    * data dir's unique name, so any reader that can see the merge commit
    * can see its feed (no claim-to-feed visibility window), a lost claim
    * deletes both, and vacuum sweeps feeds by the bloom-sidecar rule;
    * compaction contributes nothing (rowInvisible). Returns None — the
    * resync signal — for a plain rewrite, a [[purge]] (deliberately:
    * purge is retention/right-to-be-forgotten, and a change feed that
    * RETAINED the purged rows as delete records would defeat it —
    * consumers must resync and forget), or a vacuumed base. None also
    * when already at head, mirroring [[appendedSince]]. Feed files are
    * a THIS-VERSION format (dir-keyed; an earlier in-repo revision keyed
    * them `v<N>` — such files read as feed-less merges, i.e. resync, and
    * are swept by vacuum): the commit log has no cross-version table
    * compatibility contract. */
  def changesSince(spark: SparkSession, root: String,
      sinceVersion: Long): Option[DataFrame] =
    latest(spark, root).flatMap(h => changesSince(spark, root, sinceVersion, h))

  /** Same, against a caller-held head commit (the atomic form). */
  def changesSince(spark: SparkSession, root: String, sinceVersion: Long,
      head: Commit): Option[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    val f = fs(spark, root)
    val base = readCommitFile(spark, root, sinceVersion) // None = resync
    base match {
      case Some(b) if head.version > b.version =>
        val chain = commitChain(spark, root, b, head).getOrElse(return None)
        var prev = b
        val pieces = Vector.newBuilder[DataFrame]
        for (c <- chain) {
          if (c.rowInvisible) () // OPTIMIZE: no row moved, nothing to emit
          else if (prev.dataDirs.forall(c.dataDirs.contains) &&
              c.dv == prev.dv && c.colMap == prev.colMap) {
            val added = c.dataDirs.filterNot(prev.dataDirs.contains)
            if (added.nonEmpty)
              // each insert piece reads with ITS commit's recorded schema
              // (the rows as committed); a window that crosses an
              // evolution unions pieces by name below with typed NULLs.
              // RAW dir reads are exact here: a dir can only gain a
              // deletion vector through a LATER dv-changing commit,
              // which this walk consumes via its own feed (or resyncs)
              pieces += readDirs(spark, root, c.schemaDDL, c.colMap, added)
                .withColumn("_change_type", lit("insert"))
                .withColumn("_commit_version", lit(c.version))
          } else {
            // non-append shape: consumable only if the commit left a
            // change feed — keyed by its (single) new data dir, or
            // (r16) by its new deletion-vector dataset when the commit
            // added no dir (the DV delete shape); absent for plain
            // rewrites and purges: resync
            val added = c.dataDirs.filterNot(prev.dataDirs.contains)
            val key = added match {
              case Seq(one) => Some(one)
              case Seq() =>
                (c.dv.values.toSet -- prev.dv.values.toSet).toSeq match {
                  case Seq(one) => Some(one)
                  case _ => None
                }
              // a PARTITIONED rewrite (r19) stages one dir per partition
              // tuple and keys its one feed file by the first — probe
              // the added dirs for it (bounded by the restated tuples)
              case several =>
                several.filter(d => f.exists(changesPath(root, d))) match {
                  case Seq(one) => Some(one)
                  case _ => None
                }
            }
            val p = key match {
              case Some(k) => changesPath(root, k)
              case None => return None
            }
            if (!f.exists(p)) return None
            // a feed holds the commit's logical columns + _change_type
            val feed = c.schemaDDL.fold(spark.read)(ddl => spark.read
              .schema(StructType.fromDDL(ddl).add("_change_type", "string")))
            pieces += feed.parquet(p.toString)
              .withColumn("_commit_version", lit(c.version))
          }
          prev = c
        }
        val ps = pieces.result()
        Some(
          // allowMissingColumns: a feed window crossing an additive schema
          // evolution (r12) mixes pre- and post-evolution pieces — absent
          // columns union as typed NULLs, the same contract as the
          // snapshot read; within one schema generation this never fires
          if (ps.nonEmpty) ps.reduce(_.unionByName(_, allowMissingColumns = true))
          else load(spark, root, head).limit(0)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(head.version)))
      case _ => None
    }
  }

  /** Dirs added by row-visible commits in `(fromV, toV]`, for the
    * streaming tail ([[CommitLogStreamSource]]): `fromV = 0` walks from
    * the first commit (the backfill batch); rowInvisible compactions
    * contribute nothing; a missing/unparseable commit in the range means
    * the checkpoint outlived retention, and a non-append shape means rows
    * were retracted — both THROW (a streaming batch must be exact or
    * absent, never silently partial; the caller restarts with a fresh
    * checkpoint after resyncing downstream). */
  private[sources] def addedDirsBetween(spark: SparkSession, root: String,
      fromV: Long, toV: Long): Seq[String] = {
    if (toV <= fromV) return Nil
    val base =
      if (fromV == 0L) None
      else Some(commitAt(spark, root, fromV).getOrElse(throw new IllegalStateException(
        s"commit-log stream: base version $fromV at $root is no longer " +
          "retained (vacuumed) — the checkpoint is too old; resync and " +
          "restart with a fresh one")))
    var prevDirs: Seq[String] = base.map(_.dataDirs).getOrElse(Nil)
    var prevDv: Map[String, String] = base.map(_.dv).getOrElse(Map.empty)
    var prevMap: Map[String, String] = base.map(_.colMap).getOrElse(Map.empty)
    val added = Vector.newBuilder[String]
    ((fromV + 1) to toV).foreach { v =>
      val c = readCommitFile(spark, root, v).getOrElse(
        throw new IllegalStateException(
          s"commit-log stream: version $v at $root is missing or " +
            "unparseable — vacuumed past the checkpoint; resync and " +
            "restart with a fresh one"))
      if (c.rowInvisible) () // OPTIMIZE: no row moved, nothing to deliver
      // a changed deletion-vector map retracts rows without touching the
      // dir list (r16) — same resync contract as a rewrite below
      else if (prevDirs.forall(c.dataDirs.contains) && c.dv == prevDv &&
          c.colMap == prevMap)
        added ++= c.dataDirs.filterNot(prevDirs.contains)
      else throw new IllegalStateException(
        s"commit-log stream: version $v (action=${c.action}) at $root " +
          "rewrote rows — a streaming tail delivers appends only; resync " +
          "downstream and restart with a fresh checkpoint")
      prevDirs = c.dataDirs
      prevDv = c.dv
      prevMap = c.colMap
    }
    added.result()
  }

  /** The commits in (b.version, head.version], ascending, with the
    * caller-held `head` substituted at its own slot (it may not be
    * re-readable from a fresh listing if a concurrent writer advanced
    * the log). None if any file in the range is missing or unparseable —
    * a vacuum hole, which is the resync case for every chain consumer
    * ([[deltaDirs]] and [[changesSince]] share this walk so they can
    * never disagree about whether a history is incrementally readable). */
  private def commitChain(spark: SparkSession, root: String, b: Commit,
      head: Commit): Option[Seq[Commit]] = {
    val reads = ((b.version + 1) to head.version).map { v =>
      if (v == head.version) Some(head) else readCommitFile(spark, root, v)
    }
    if (reads.exists(_.isEmpty)) None else Some(reads.flatten)
  }

  /** Dirs added by ROW-VISIBLE commits strictly after `b` up to `head`.
    * Fast path: `b`'s dirs are a prefix-set of `head`'s (pure append-only
    * history). Otherwise walk the commit chain — rowInvisible commits
    * (compact: snapshot row-identical to its parent) contribute nothing
    * and re-anchor the dir comparison, append-shaped commits contribute
    * their added dirs, anything else is a real rewrite → None (resync).
    * Chain completeness: vacuum retains a SUFFIX of commit files, so if
    * the base survived every later commit file did too — a hole means a
    * concurrent vacuum passed the base, which is the resync case anyway.
    * Walked `added` dirs are always readable: each is referenced by its
    * own (retained) commit, and vacuum keeps any dir a kept commit
    * lists, even after a later compact dropped it from the head. */
  private def deltaDirs(spark: SparkSession, root: String, b: Commit,
      head: Commit): Option[Seq[String]] = {
    // dv equality gates BOTH paths (r16): a deletion-vector commit
    // retracts rows without touching the dir list, so dir identity
    // alone no longer implies row identity — a window crossing one is
    // not append-readable (the rewrite/resync rule). Vector names are
    // unique per commit, so an unchanged map proves no DV commit landed
    // on the carried dirs inside the window.
    if (b.dv == head.dv && b.colMap == head.colMap &&
        b.dataDirs.forall(head.dataDirs.contains))
      Some(head.dataDirs.filterNot(b.dataDirs.contains))
    else commitChain(spark, root, b, head).flatMap {
      _.foldLeft(Option((b, Vector.empty[String]))) {
        case (None, _) => None
        case (Some((prev, added)), c) =>
          if (c.rowInvisible) Some((c, added))
          else if (prev.dataDirs.forall(c.dataDirs.contains) &&
              c.dv == prev.dv && c.colMap == prev.colMap)
            Some((c, added ++ c.dataDirs.filterNot(prev.dataDirs.contains)))
          else None
      }.map(_._2)
    }
  }

  /** Commit history as a DataFrame (version, ts_ms, writer, action,
    * n_dirs, row_invisible, cluster, txn_app, txn_batch) — the audit
    * surface: who changed the table, WHEN (wall-clock epoch-ms, r13 —
    * null for pre-timestamp commits) and where in the version order, by
    * which verb, whether consumers skip it, how the head is clustered,
    * and which streaming batch it carries. Reads only the log
    * (O(versions) tiny files), never a data dir. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    // checkpoint-accelerated (r17): O(1) + O(since-checkpoint) reads on
    // a cold open instead of one tiny JSON read per retained version
    commitIndex(spark, root)
      .map(e => (e.v, e.ts, e.writer, e.action, e.ndirs,
        e.inv, e.cluster, e.txn.map(_._1), e.txn.map(_._2), e.cons))
      .toDF("version", "ts_ms", "writer", "action", "n_dirs",
        "row_invisible", "cluster", "txn_app", "txn_batch", "constraints")
  }

  /** Reject `df` if any row makes any of `cs` evaluate FALSE (NULL
    * passes — the SQL CHECK rule). The ONE enforcement gate every write
    * verb calls BEFORE staging, so a violating batch fails before any
    * commit (or staging I/O) exists on any route. Cost: one
    * filter+take(1) scan of the batch per constraint — constraints are
    * few and the batch is the delta, never the table (except
    * full-rewrite verbs, whose staged snapshot is being scanned for the
    * write anyway). */
  private def enforceConstraints(df: DataFrame,
      cs: Seq[(String, String)]): Unit =
    cs.foreach { case (n, e) =>
      val bad = df.filter(!org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.expr(e), lit(true))).take(1)
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"CommitLog: CHECK constraint '$n' ($e) is violated by " +
          s"${bad.head} — the batch was rejected before any commit")
    }

  /** METADATA-ONLY commit: claim the next version with the head's data
    * directories unchanged and `mutate` applied to the carried record —
    * the [[addConstraint]]/[[dropConstraint]] engine. rowInvisible by
    * construction (the snapshot is row-identical to its parent), so
    * incremental consumers ride through; the ordinary optimistic loop,
    * with `mutate` re-run against the fresh head after a lost claim
    * (serializable like every verb). */
  private def metadataCommit(spark: SparkSession, root: String,
      writer: String, action: String, maxAttempts: Int = 20,
      rowInvisible: Boolean = true)(
      mutate: Commit => Commit): Commit = {
    requireTag(writer, "writer"); requireTag(action, "action")
    val f = fs(spark, root)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      repairTornTail(spark, root)
      val cur = latest(spark, root).getOrElse(
        throw new IllegalStateException(
          s"CommitLog: $action on an empty table at $root"))
      requireWritable(cur)
      val m = mutate(cur)
      val c = m.copy(version = cur.version + 1, writer = writer,
        action = action, rowInvisible = rowInvisible, txn = None,
        schemaDDL = Some(carriedDDL(m, schemaOf(spark, root, cur))),
        tsMs = Some(System.currentTimeMillis()))
      if (tryClaim(spark, root, c.version, encode(c))) {
        writeHeadPointer(f, root, c.version); return c
      }
      Thread.sleep(50L * attempt)
    }
    throw new java.io.IOException(
      s"CommitLog: $writer lost $maxAttempts consecutive $action claims on $root")
  }

  /** ADD a CHECK constraint (r14 — the Delta `ALTER TABLE ADD CONSTRAINT
    * CHECK` verb): records (name → SQL expression) in a new audited
    * metadata commit after validating that EVERY existing row satisfies
    * it (the Delta add-constraint table scan, re-run against the fresh
    * head on a lost claim, so a racing violating append cannot slip
    * under the new constraint). From this commit on, every write verb
    * rejects violating batches before staging. NOT NULL is
    * `addConstraint(…, "col IS NOT NULL")`. A malformed expression or a
    * duplicate name fails loudly; nothing commits. */
  def addConstraint(spark: SparkSession, root: String, writer: String,
      name: String, exprSql: String, maxAttempts: Int = 20): Commit =
    addConstraints(spark, root, writer, Seq(name -> exprSql), maxAttempts)

  /** ADD several CHECK constraints in ONE audited metadata commit — the
    * `CREATE TABLE (… CHECK …, … CHECK …)` face (ADVICE r14: per-
    * constraint commits meant a failed later constraint left the earlier
    * ones live on a pre-existing external table, and the corrected
    * retry then hit 'already exists'). All names are validated against
    * the head AND each other, and EVERY existing row is checked against
    * every new predicate, before anything commits — all-or-nothing. */
  def addConstraints(spark: SparkSession, root: String, writer: String,
      cs: Seq[(String, String)], maxAttempts: Int = 20): Commit = {
    require(cs.nonEmpty, "addConstraints needs at least one constraint")
    cs.foreach { case (n, _) => requireTag(n, "constraint name") }
    val dup = cs.groupBy(_._1).filter(_._2.size > 1).keys
    require(dup.isEmpty,
      s"CommitLog: duplicate constraint names ${dup.mkString(", ")}")
    metadataCommit(spark, root, writer, "constraint-add", maxAttempts) { cur =>
      val existing = cs.map(_._1).filter(n => cur.constraints.exists(_._1 == n))
      require(existing.isEmpty,
        s"CommitLog: constraint ${existing.map(n => s"'$n'").mkString(", ")} " +
          s"already exists on $root " +
          s"(${cur.constraints.map(_._1).mkString(", ")})")
      // existing data must satisfy the new invariants — checked against
      // exactly the head this claim builds on (per-attempt, serializable)
      enforceConstraints(load(spark, root, cur), cs)
      cur.copy(constraints = cur.constraints ++ cs)
    }
  }

  /** METADATA-ONLY additive schema evolution (r14 — the `ALTER TABLE …
    * ADD COLUMNS` face of the r12 evolve-append): record the widened
    * schema (head's fields, new NULLABLE fields after) in a new audited
    * metadata commit WITHOUT writing any data — every reader pins the
    * recorded DDL, so existing directories fill the new columns with
    * typed NULLs, exactly the evolve-append semantics minus the delta.
    * rowInvisible (no row changes — consumers ride through); later
    * appends must carry the widened schema, the exact-match contract. */
  def evolveSchema(spark: SparkSession, root: String, writer: String,
      added: Seq[org.apache.spark.sql.types.StructField],
      maxAttempts: Int = 20,
      defaults: Map[String, String] = Map.empty): Commit = {
    require(added.nonEmpty, "evolveSchema needs at least one column")
    evolveColumns(spark, root, writer, added, defaults, Nil, maxAttempts)
  }

  /** Validate `defaults` for an evolution adding the columns/fields in
    * `added` — keys are top-level names OR dot-joined nested paths (r19),
    * each mapping to the added field it attaches to (extracted from
    * [[evolveSchema]] so the combined verb shares it verbatim). */
  private def validateDefaults(spark: SparkSession,
      added: Map[String, org.apache.spark.sql.types.StructField],
      defaults: Map[String, String]): Unit = {
    // EXISTENCE defaults (r16 — VERDICT r15 #5): recorded per added
    // column, applied by readers to pre-evolution dirs only (their
    // typed-NULL fill coalesces to the constant; later writes store
    // explicit values). The expression must be a deterministic constant
    // — validated by evaluating it once, typed, before anything commits
    // (a malformed default must not brick every future read).
    // default column names embed UNESCAPED in the defaults block
    defaults.keys.foreach(n => requireTag(n, "defaulted column name"))
    val badDefault = defaults.keySet -- added.keySet
    require(badDefault.isEmpty,
      s"defaults for ${badDefault.mkString(", ")} — defaults attach to " +
        "the columns being ADDED")
    defaults.foreach { case (n, e) =>
      val f = added(n)
      val probe = spark.range(1)
        .select(org.apache.spark.sql.functions.expr(e).cast(f.dataType))
      require(probe.queryExecution.analyzed.expressions
        .forall(_.deterministic),
        s"DEFAULT for '$n' must be deterministic, got: $e")
      // `deterministic` admits time/session-dependent expressions
      // (current_date() is "deterministic" within one query) — but an
      // existence default is re-evaluated at EVERY read, so such an
      // expression would make the same committed snapshot answer
      // differently tomorrow (r16 code review). Reject the CurrentLike
      // family outright; the recorded text must be a true constant.
      val timeish = probe.queryExecution.analyzed.expressions
        .flatMap(_.collect {
          case x if x.getClass.getSimpleName.startsWith("Current") ||
              x.getClass.getSimpleName == "Now" ||
              x.getClass.getSimpleName == "LocalTimestamp" => x
        })
      require(timeish.isEmpty,
        s"DEFAULT for '$n' must be a CONSTANT — '$e' is time/session-" +
          s"dependent (${timeish.map(_.getClass.getSimpleName).distinct
            .mkString(", ")}); a re-evaluated default would change the " +
          "same committed snapshot's answer over time")
      probe.collect() // evaluates: a bad cast or unresolvable fails HERE
    }
  }

  /** ONE-STATEMENT additive evolution, top-level AND nested (ADVICE r17:
    * the catalog's `ALTER TABLE … ADD COLUMNS` used to commit top-level
    * adds first and then one commit PER parent struct path, so a
    * statement mixing valid and invalid adds could leave the table
    * half-evolved — and broke the documented 'one statement = one
    * evolution commit' invariant). Every path and name is validated
    * against the head schema INSIDE the one claim attempt, so nothing
    * commits unless everything resolves; nested paths resolve against
    * the schema WITH the statement's own top-level adds applied (a
    * statement may add a struct and a field inside it). */
  def evolveColumns(spark: SparkSession, root: String, writer: String,
      topAdded: Seq[org.apache.spark.sql.types.StructField],
      defaults: Map[String, String],
      nested: Seq[(Seq[String], Seq[org.apache.spark.sql.types.StructField])],
      maxAttempts: Int = 20): Commit = {
    import org.apache.spark.sql.types.StructType
    require(topAdded.nonEmpty || nested.nonEmpty,
      "evolveColumns needs at least one added column or nested field")
    nested.foreach { case (path, fs) =>
      require(path.nonEmpty,
        "evolveColumns: a nested add needs the struct column's path")
      require(fs.nonEmpty,
        s"evolveColumns: no fields to add under ${path.mkString(".")}")
      require(fs.forall(_.nullable),
        "evolveColumns adds NULLABLE fields only — existing rows read " +
          "the new field as NULL")
      val inDup = fs.groupBy(_.name.toLowerCase).filter(_._2.size > 1)
      require(inDup.isEmpty,
        s"evolveColumns: duplicate added fields ${inDup.keys.mkString(", ")} " +
          s"under ${path.mkString(".")}")
    }
    // defaults key by top-level NAME or dot-joined nested PATH (r19 —
    // VERDICT r18 #3): a dotted key attaches to the nested field this
    // statement adds at that path. Dotted keys demand dot-free path
    // segments (a segment containing '.' would make the key ambiguous —
    // the colmap rule applied to the defaults block).
    // a TOP-LEVEL added column whose literal name contains '.' could
    // carry a default that applyDefaults would misread as a nested
    // path (grouped under a head segment that doesn't exist — the
    // constant would silently never coalesce); refuse the combination
    // (code review r19)
    defaults.keys.filter(_.contains('.')).foreach(k =>
      require(!topAdded.exists(_.name == k),
        s"DEFAULT for added column '$k': its name contains '.', which " +
          "is ambiguous with path-keyed nested defaults — rename the " +
          "column"))
    val defaultTargets: Map[String, org.apache.spark.sql.types.StructField] =
      topAdded.map(f => f.name -> f).toMap ++
        nested.flatMap { case (path, fs) =>
          fs.map(f => (path :+ f.name).mkString(".") -> f) }
    if (defaults.keys.exists(_.contains('.')))
      nested.foreach { case (path, fs) =>
        (path ++ fs.map(_.name)).foreach(seg =>
          require(!seg.contains('.'),
            s"evolveColumns: '$seg' contains '.' — ambiguous under " +
              "path-keyed nested defaults"))
      }
    validateDefaults(spark, defaultTargets, defaults)
    metadataCommit(spark, root, writer, "evolve", maxAttempts) { cur =>
      val headSchema = schemaOf(spark, root, cur)
      // CASE-INSENSITIVE duplicate checks (code review r14 close): Spark
      // resolves case-insensitively by default, so committing both 'id'
      // and 'ID' would make every later reference AMBIGUOUS_REFERENCE
      val headLower = headSchema.fieldNames.map(_.toLowerCase).toSet
      val dup = topAdded.map(_.name).filter(n => headLower(n.toLowerCase))
      require(dup.isEmpty,
        s"evolveSchema: ${dup.mkString(", ")} already in head schema " +
          headSchema.simpleString)
      val inDup = topAdded.groupBy(_.name.toLowerCase).filter(_._2.size > 1)
      require(inDup.isEmpty,
        s"evolveSchema: duplicate added columns ${inDup.keys.mkString(", ")}")
      require(topAdded.forall(_.nullable),
        "evolveSchema adds NULLABLE columns only — existing rows read " +
          "the new column as NULL (or its recorded DEFAULT)")
      if (defaults.keys.exists(_.contains('.'))) {
        val dotted = headSchema.fieldNames.filter(_.contains('.'))
        require(dotted.isEmpty,
          s"evolveColumns: top-level column(s) ${dotted.mkString("'", "', '", "'")} " +
            "contain '.', ambiguous against path-keyed nested defaults — " +
            "rename them first")
      }
      // nested adds widen AFTER the top-level adds, against the same
      // in-statement schema — every path must resolve or nothing commits
      val topWidened = StructType(headSchema.fields ++ topAdded)
      val widened = nested.foldLeft(topWidened) { case (st, (path, fs)) =>
        widenStructAt(st, path, fs, "<root>")
      }
      // under an ACTIVE mapping (r18 — nested column mapping), nested
      // adds take fresh path-keyed physicals like top-level ones: a
      // nested name re-added after a DROP must never resurrect the
      // dropped field's stored bytes. Keys canonicalize to the schema's
      // segment spelling (paths resolve case-insensitively above).
      def canonicalPath(st: StructType, p: Seq[String]): Seq[String] =
        p match {
          case Seq() => Nil
          case seg +: rest =>
            val f = st.fields.find(_.name.equalsIgnoreCase(seg)).get
            f.name +: (f.dataType match {
              case s: StructType => canonicalPath(s, rest)
              case _ => Nil
            })
        }
      val nestedPhysicals =
        if (cur.colMap.isEmpty) Nil
        else nested.flatMap { case (path, fs) =>
          (path ++ fs.map(_.name)).foreach(seg =>
            require(!seg.contains('.'),
              s"ADD COLUMNS: '$seg' contains '.' — ambiguous under " +
                "path-keyed column mapping"))
          fs.map(f => canonicalPath(widened, path :+ f.name).mkString(".") ->
            s"col-${java.util.UUID.randomUUID().toString.take(8)}")
        }
      cur.copy(schemaDDL = Some(widened.toDDL),
        // since = THIS commit's version: dirs staged before it predate
        // the column and coalesce to the constant; dirs at-or-after
        // store explicit values
        defaults = cur.defaults ++ defaults.toSeq.sortBy(_._1)
          .map { case (n, e) => (n, cur.version + 1, e) },
        // under an ACTIVE column mapping (r16), added columns take a
        // fresh physical name — a logical name re-added after a DROP
        // must never resurrect the dropped column's stored bytes
        colMap =
          if (cur.colMap.isEmpty) cur.colMap
          else cur.colMap ++ topAdded.map(f => f.name ->
            s"col-${java.util.UUID.randomUUID().toString.take(8)}") ++
            nestedPhysicals)
    }
  }

  /** `st` with `fields` appended to the struct at `path` (case-
    * insensitive segment resolution, loud refusal on a non-struct or
    * missing segment and on duplicate names at the target) — the nested
    * widening shared by [[evolveStructFields]] and [[evolveColumns]]. */
  private def widenStructAt(st: org.apache.spark.sql.types.StructType,
      path: Seq[String],
      fields: Seq[org.apache.spark.sql.types.StructField],
      at: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    path match {
      case Seq() =>
        val lower = st.fieldNames.map(_.toLowerCase).toSet
        val dup = fields.map(_.name).filter(n => lower(n.toLowerCase))
        require(dup.isEmpty,
          s"evolveStructFields: ${dup.mkString(", ")} already in " +
            s"$at (${st.simpleString})")
        StructType(st.fields ++ fields)
      case seg +: rest =>
        val i = st.fields.indexWhere(_.name.equalsIgnoreCase(seg))
        require(i >= 0, s"evolveStructFields: no field '$seg' in $at " +
          s"(${st.simpleString})")
        st.fields(i).dataType match {
          case inner: StructType =>
            StructType(st.fields.updated(i, st.fields(i)
              .copy(dataType = widenStructAt(inner, rest, fields, s"$at.$seg"))))
          case other => throw new IllegalArgumentException(
            s"evolveStructFields: '$at.$seg' is ${other.simpleString}, " +
              "not a struct — only struct columns take nested adds")
        }
    }
  }

  /** NESTED additive schema evolution (r17 — VERDICT r16 #4): add
    * NULLABLE fields INSIDE an existing struct column, arbitrarily
    * deep — the `ALTER TABLE … ADD COLUMNS (s.f T)` shape real event
    * schemas evolve by. ONE rowInvisible metadata commit records the
    * widened DDL and NOTHING else moves: parquet's schema-clipped read
    * (the same pinned-DDL scan every route already uses) fills a
    * nested field missing from a pre-evolution file with typed NULL,
    * at any depth — probed on this Spark and spec-asserted — so old
    * dirs, merges, compactions, and the connector/catalog routes all
    * ride through the widening with zero data I/O. Restrictions, each
    * loud: fields are NULLABLE and appended at the end of their struct
    * (no FIRST/AFTER reordering of committed parquet), the path must
    * resolve to a STRUCT column (array/map element structs are out of
    * scope), case-insensitive duplicate checks like the top-level
    * verb. Existence DEFAULTS at depth (r19 — VERDICT r18 #3) key by
    * the added field's NAME here (recorded under its dot-joined path):
    * pre-evolution dirs read the constant wherever the parent struct
    * exists — [[applyDefaults]]'s `withField` rebuild — and the commit
    * gates the reader-required 'defaults-nested' feature, since a
    * top-level-only defaults binary would silently read NULL where the
    * constant belongs. Column mapping composes: only TOP-LEVEL names
    * are mapped, so the nested widening keys by the parent's logical
    * name and the physical scan translates the top level as always. */
  def evolveStructFields(spark: SparkSession, root: String, writer: String,
      path: Seq[String], added: Seq[org.apache.spark.sql.types.StructField],
      maxAttempts: Int = 20,
      defaults: Map[String, String] = Map.empty): Commit = {
    require(path.nonEmpty,
      "evolveStructFields needs the struct column's path — top-level " +
        "adds go through evolveSchema")
    val badKey = defaults.keySet -- added.map(_.name).toSet
    require(badKey.isEmpty,
      s"evolveStructFields: defaults for ${badKey.mkString(", ")} — " +
        "keys are the added fields' names")
    evolveColumns(spark, root, writer, Nil,
      defaults.map { case (n, e) => (path :+ n).mkString(".") -> e },
      Seq(path -> added), maxAttempts)
  }

  /** RECORD (or, with `cols` empty, CLEAR) the table's DECLARED
    * clustering spec (r16 — VERDICT r15 #3, the `CREATE/ALTER TABLE …
    * CLUSTER BY` verb): one audited rowInvisible metadata commit whose
    * `clusterBy` every later verb carries forward. One column declares a
    * range-sort layout, two or more a ZORDER layout — [[compact]] called
    * with no explicit columns then maintains it (and still no-ops on an
    * already-conformant quiescent head, so the cadence is schedulable).
    * Columns are validated against the head schema — a typo'd CLUSTER BY
    * must fail here, not brick every scheduled compact. */
  def setClusterBy(spark: SparkSession, root: String, writer: String,
      cols: Seq[String], maxAttempts: Int = 20): Commit = {
    cols.foreach(c => requireTag(c, "cluster column"))
    require(cols.distinct == cols,
      s"duplicate CLUSTER BY columns in ${cols.mkString("(", ", ", ")")}")
    metadataCommit(spark, root, writer, "cluster-by", maxAttempts) { cur =>
      if (cols.nonEmpty) {
        val headSchema = schemaOf(spark, root, cur)
        cols.foreach(c => require(headSchema.fieldNames.contains(c),
          s"CLUSTER BY column '$c' not in head schema ${headSchema.simpleString}"))
      }
      val spec =
        if (cols.isEmpty) None
        else if (cols.size == 1) Some("sort:" + cols.head)
        else Some("z:" + cols.mkString(","))
      cur.copy(clusterBy = spec)
    }
  }

  /** True when the table holds NO committed rows — the gate for
    * declaring (or clearing) partitioning/generation. Pre-r19 commits
    * record no per-dir `rows` entry, so an absent entry falls back to
    * ONE driver-side footer count per dir (code review r19: treating
    * absence as non-empty locked genuinely empty legacy tables out of
    * the declarations forever). */
  private def tableIsEmpty(spark: SparkSession, root: String,
      cur: Commit): Boolean =
    cur.dataDirs.forall(d => cur.rows.get(d) match {
      case Some(n) => n == 0L
      case None => footers(spark, root, Seq(d), Nil).rows(d) == 0L
    })

  /** Partition-value types the spec accepts (r19): atomic types whose
    * string rendering under Spark's cast is deterministic and
    * reproducible from a pushed literal — what [[stagePartitioned]]
    * records and the connector's partition pruning re-renders. */
  private val PartitionableTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, ByteType, ShortType, IntegerType, LongType, DateType,
      BooleanType)
  }

  /** DECLARE the table's partition columns (r19 — VERDICT r18 #1, the
    * `CREATE TABLE … PARTITIONED BY` face): one audited metadata commit
    * recording the spec; every later write verb stages its data SPLIT
    * per partition tuple (one dir per tuple, exact per-dir values in the
    * commit), partition-filtered reads plan only matching dirs, and a
    * partition-addressed restatement (`INSERT OVERWRITE … PARTITION` /
    * REPLACE WHERE) rewrites only that partition's dirs. Declarable only
    * while the table holds NO visible data (the Delta rule: partitioning
    * an existing layout is a full rewrite — run one explicitly); columns
    * must exist with a [[PartitionableTypes]] type and be distinct. */
  def setPartitionBy(spark: SparkSession, root: String, writer: String,
      cols: Seq[String], maxAttempts: Int = 20): Commit = {
    require(cols.nonEmpty, "setPartitionBy needs at least one column")
    require(cols.distinct == cols,
      s"duplicate PARTITIONED BY columns in ${cols.mkString("(", ", ", ")")}")
    metadataCommit(spark, root, writer, "partition-by", maxAttempts) { cur =>
      require(cur.partitionBy.isEmpty || cur.partitionBy == cols,
        s"CommitLog: $root is already partitioned by " +
          s"${cur.partitionBy.mkString("(", ", ", ")")} — changing the " +
          "spec of committed data needs an explicit full rewrite")
      require(tableIsEmpty(spark, root, cur),
        s"CommitLog: PARTITIONED BY on $root after data was committed — " +
          "declare partitioning at CREATE (before the first insert), or " +
          "rewrite explicitly")
      val headSchema = schemaOf(spark, root, cur)
      cols.foreach { c =>
        val fld = headSchema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"PARTITIONED BY column '$c' not in head schema " +
              headSchema.simpleString))
        require(PartitionableTypes.contains(fld.dataType),
          s"PARTITIONED BY column '$c' has type ${fld.dataType.sql} — " +
            "partition columns take string/integral/date/boolean " +
            "(derive a bucket column for anything else)")
      }
      cur.copy(partitionBy = cols)
    }
  }

  /** Rollback half of [[setPartitionBy]] for [[GraftCatalog]]'s failed-
    * CREATE unwind — valid only while the table still holds no data
    * (the same emptiness the set verb proved). */
  private[graft] def clearPartitionBy(spark: SparkSession, root: String,
      writer: String, maxAttempts: Int = 20): Commit =
    metadataCommit(spark, root, writer, "partition-by", maxAttempts) { cur =>
      require(tableIsEmpty(spark, root, cur),
        s"CommitLog: cannot clear PARTITIONED BY on $root after data " +
          "was committed")
      cur.copy(partitionBy = Nil, partVals = Map.empty)
    }

  /** Rollback half of [[setGeneratedColumns]] — same emptiness rule. */
  private[graft] def clearGeneratedColumns(spark: SparkSession, root: String,
      writer: String, maxAttempts: Int = 20): Commit =
    metadataCommit(spark, root, writer, "generated-cols", maxAttempts) { cur =>
      require(tableIsEmpty(spark, root, cur),
        s"CommitLog: cannot clear GENERATED columns on $root after data " +
          "was committed")
      cur.copy(gens = Nil)
    }

  /** DECLARE generated columns (r19 — VERDICT r18 #2, the Delta
    * `GENERATED ALWAYS AS (expr)` face): one audited metadata commit
    * recording (column, expression SQL). From this commit on every write
    * verb MATERIALIZES an omitted generated column from its expression
    * and REFUSES a batch supplying conflicting explicit values; recorded
    * stats on the column prune dirs like any other. Declarable only
    * while the table holds no visible data (existing rows were never
    * validated); expressions must resolve against the head schema,
    * reference only non-generated columns, and be deterministic. */
  def setGeneratedColumns(spark: SparkSession, root: String, writer: String,
      gens: Seq[(String, String)], maxAttempts: Int = 20): Commit = {
    require(gens.nonEmpty, "setGeneratedColumns needs at least one column")
    require(gens.map(_._1).distinct == gens.map(_._1),
      s"duplicate GENERATED columns in ${gens.map(_._1).mkString(", ")}")
    metadataCommit(spark, root, writer, "generated-cols", maxAttempts) { cur =>
      require(cur.gens.isEmpty || cur.gens == gens,
        s"CommitLog: $root already records generated columns " +
          s"${cur.gens.map(_._1).mkString("(", ", ", ")")} — redeclaring " +
          "needs an explicit full rewrite")
      require(tableIsEmpty(spark, root, cur),
        s"CommitLog: GENERATED ALWAYS AS on $root after data was " +
          "committed — declare at CREATE (existing rows were never " +
          "validated against the expression)")
      val head = load(spark, root, cur)
      val genNames = gens.map(_._1).toSet
      gens.foreach { case (n, e) =>
        require(head.schema.fieldNames.contains(n),
          s"GENERATED column '$n' not in head schema " +
            head.schema.simpleString)
        val expr = org.apache.spark.sql.functions.expr(e)
        val analyzed = scala.util.Try(
          head.select(expr).queryExecution.analyzed)
          .getOrElse(throw new IllegalArgumentException(
            s"GENERATED column '$n': expression ($e) does not resolve " +
              s"against ${head.schema.simpleString}"))
        require(analyzed.expressions.forall(_.deterministic),
          s"GENERATED column '$n': expression ($e) must be deterministic")
        // `deterministic` admits SESSION-dependent foldables —
        // current_database(), current_user(), current_date() — whose
        // value differs writer to writer: enforceGenerated would then
        // refuse valid rows written under another session's identity,
        // and the derived partition probe would fold a different value
        // than the writer recorded and mis-prune (code review r19; the
        // validateDefaults rule applied to generation)
        val sessionish = analyzed.expressions.flatMap(_.collect {
          case x if x.getClass.getSimpleName.startsWith("Current") ||
              x.getClass.getSimpleName == "Now" ||
              x.getClass.getSimpleName == "LocalTimestamp" => x
        })
        require(sessionish.isEmpty,
          s"GENERATED column '$n': expression ($e) is time/session-" +
            s"dependent (${sessionish.map(_.getClass.getSimpleName)
              .distinct.mkString(", ")}) — generation must compute the " +
            "same value under every writer's session")
        val refs = analyzed.expressions.flatMap(_.references.map(_.name))
        require(!refs.exists(genNames.contains),
          s"GENERATED column '$n': expression ($e) may not reference " +
            "another generated column")
      }
      cur.copy(gens = gens)
    }
  }

  /** Attribute names a recorded constraint expression references, for
    * the rename/drop guards — resolved against the head's logical
    * schema, never a string match. A constraint that does NOT resolve
    * against the head is refused loudly (VERDICT r16 watch-item #3:
    * failing open here would let a RENAME/DROP proceed past a
    * constraint it cannot prove unrelated — and an unresolvable
    * constraint already means the table is broken; enforcement would
    * fail the next write anyway, so fail the DDL first, with the name). */
  private def constraintRefs(spark: SparkSession, root: String,
      cur: Commit, name: String, exprSql: String): Set[String] =
    scala.util.Try(
      load(spark, root, cur)
        .select(org.apache.spark.sql.functions.expr(exprSql))
        .queryExecution.analyzed.expressions
        .flatMap(_.references.map(_.name)).toSet
    ).getOrElse(throw new IllegalStateException(
      s"constraint '$name' (`$exprSql`) does not resolve against the " +
        s"head schema of $root — the table is already inconsistent; " +
        "drop the constraint before renaming or dropping columns"))

  /** The table's column map with MAPPING ACTIVATED: the existing map,
    * or (first rename/drop) the identity over the current logical
    * schema — freezing every column's physical name. */
  private def activatedMap(cur: Commit,
      headSchema: org.apache.spark.sql.types.StructType): Map[String, String] =
    if (cur.colMap.nonEmpty) cur.colMap
    else headSchema.fieldNames.map(n => n -> n).toMap

  /** RENAME a column (r16 — VERDICT r15 #2, the Delta column-mapping
    * verb): ONE metadata commit, ZERO data rewritten — the logical name
    * re-points at the column's frozen physical name; every carried
    * artifact keyed by the logical name (recorded schema, stats column
    * set and per-dir ranges, declared clustering, existence defaults)
    * re-keys in the same commit. Refused when a CHECK constraint
    * references the column (re-resolving user SQL silently would be a
    * guess — drop the constraint first) or when it is the table's bloom
    * column (sidecar marker files live outside the commit protocol).
    * ROW-VISIBLE resync semantics: rows don't move, but the column
    * contract changed — incremental consumers' downstream schemas would
    * silently diverge, so `appendedSince`/CDF/streaming treat it like a
    * rewrite (map inequality breaks the chain). Time travel to
    * pre-rename versions shows the OLD name (their commits record it). */
  def renameColumn(spark: SparkSession, root: String, writer: String,
      from: String, to: String, maxAttempts: Int = 20): Commit = {
    // the new name re-keys statsCols / clusterBy, which embed UNESCAPED
    // in the commit JSON (code review r16): reject at the API edge like
    // every other tag — a quote or comma would corrupt a COMMITTED claim
    requireTag(to, "column name")
    // and dot-free (r18): path-keyed nested mapping joins paths with
    // '.', so a dotted top-level logical name would be ambiguous
    require(!to.contains('.'),
      s"RENAME COLUMN: '$to' contains '.' — ambiguous under path-keyed " +
        "column mapping")
    metadataCommit(spark, root, writer, "rename-column", maxAttempts,
        rowInvisible = false) { cur =>
      val headSchema = schemaOf(spark, root, cur)
      require(headSchema.fieldNames.contains(from),
        s"RENAME COLUMN: no column '$from' in ${headSchema.simpleString}")
      require(!headSchema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"RENAME COLUMN: '$to' already exists in ${headSchema.simpleString}")
      val blocking = cur.constraints.filter { case (cn, e) =>
        constraintRefs(spark, root, cur, cn, e).contains(from) }
      require(blocking.isEmpty,
        s"RENAME COLUMN '$from': constraint" +
          s" ${blocking.map(_._1).mkString(", ")} references it — drop " +
          "the constraint, rename, re-add it under the new name")
      require(!bloomColumns(spark, root).contains(from),
        s"RENAME COLUMN '$from': it is one of the table's bloom columns — " +
          "sidecars are keyed outside the log; compact+rebuild first")
      // a generation EXPRESSION referencing the column is SQL text the
      // verb cannot rewrite — refuse, the constraints rule (r19); the
      // generated column itself re-keys below like statsCols/clusterBy
      val genBlocking = cur.gens.filter { case (gn, ge) =>
        constraintRefs(spark, root, cur, s"generated '$gn'", ge)
          .contains(from) }
      require(genBlocking.isEmpty,
        s"RENAME COLUMN '$from': generated column" +
          s" ${genBlocking.map(_._1).mkString(", ")} computes from it — " +
          "redeclare the table to change generation inputs")
      val base = activatedMap(cur, headSchema)
      // nested entries under the renamed column follow their parent
      // (r18 — the path-keyed map keys by CURRENT logical paths)
      val reKeyed = base.map { case (k, v) =>
        (if (k.startsWith(from + ".")) to + k.substring(from.length)
         else k) -> v
      }
      cur.copy(
        schemaDDL = Some(org.apache.spark.sql.types.StructType(
          headSchema.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f)).toDDL),
        colMap = (reKeyed - from) + (to -> base.getOrElse(from, from)),
        statsCols = cur.statsCols.map(n => if (n == from) to else n),
        stats = cur.stats.map { case (d, byCol) =>
          d -> byCol.map { case (n, r) => (if (n == from) to else n) -> r } },
        fstats = cur.fstats.map { case (k, byCol) =>
          k -> byCol.map { case (n, r) => (if (n == from) to else n) -> r } },
        defaults = cur.defaults.map { case (n, v, e) =>
          (if (n == from) to
           else if (n.startsWith(from + ".")) to + n.substring(from.length)
           else n, v, e) },
        // partition spec and generated-column NAMES re-key like
        // statsCols (r19); partVals are name-free values, untouched
        partitionBy = cur.partitionBy.map(n => if (n == from) to else n),
        gens = cur.gens.map { case (n, e) =>
          (if (n == from) to else n, e) },
        clusterBy = cur.clusterBy.map { sp =>
          val (pre, cols) =
            if (sp.startsWith("z:")) ("z:", sp.stripPrefix("z:"))
            else ("sort:", sp.stripPrefix("sort:"))
          pre + cols.split(',').toSeq
            .map(n => if (n == from) to else n).mkString(",")
        })
    }
  }

  /** Struct-extraction paths a recorded constraint references, resolved
    * against the head — the path-wise hazard check for NESTED
    * rename/drop (r18): `s.f > 0` yields Seq("s","f"); a whole-struct
    * reference yields Seq("s"). Same refuse-loudly contract as
    * [[constraintRefs]]. */
  private def constraintRefPaths(spark: SparkSession, root: String,
      cur: Commit, name: String, exprSql: String): Set[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GetStructField}
    def pathOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[Seq[String]] = e match {
      case a: AttributeReference => Some(Seq(a.name))
      case g: GetStructField =>
        pathOf(g.child).map(_ :+ g.extractFieldName)
      case _ => None
    }
    scala.util.Try {
      val analyzed = load(spark, root, cur)
        .select(org.apache.spark.sql.functions.expr(exprSql))
        .queryExecution.analyzed.expressions
      // MAXIMAL paths only: a GetStructField chain records its full
      // path WITHOUT also recording its child attribute — the bare
      // Seq("s") would overlap every field under s and spuriously
      // block sibling renames
      val acc = scala.collection.mutable.Set.empty[Seq[String]]
      def walk(e: org.apache.spark.sql.catalyst.expressions.Expression): Unit =
        e match {
          case g: GetStructField => pathOf(g) match {
            case Some(p) => acc += p
            case None => g.children.foreach(walk)
          }
          case a: AttributeReference => acc += Seq(a.name)
          case other => other.children.foreach(walk)
        }
      analyzed.foreach(walk)
      acc.toSet
    }.getOrElse(throw new IllegalStateException(
      s"constraint '$name' (`$exprSql`) does not resolve against the " +
        s"head schema of $root — the table is already inconsistent; " +
        "drop the constraint before renaming or dropping fields"))
  }

  /** True when constraint path `p` and DDL-target path `q` overlap —
    * either is a prefix of the other (renaming s.f breaks `s.f > 0`
    * AND `s IS NOT NULL`; renaming s breaks both). Case-insensitive,
    * Spark's resolution rule. */
  private def pathsOverlap(p: Seq[String], q: Seq[String]): Boolean = {
    val n = math.min(p.length, q.length)
    (0 until n).forall(i => p(i).equalsIgnoreCase(q(i)))
  }

  /** `st` with the struct field at `path` renamed (`to` nonEmpty) or
    * DROPPED (`to` empty) — segments resolve exactly; intermediates
    * must be structs. */
  private def renameOrDropAt(st: org.apache.spark.sql.types.StructType,
      path: Seq[String], to: Option[String], at: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val i = st.fields.indexWhere(_.name == path.head)
    require(i >= 0, s"no field '${path.head}' in $at (${st.simpleString})")
    path match {
      case Seq(_) => to match {
        case Some(t) =>
          require(!st.fields.exists(f => f.name.equalsIgnoreCase(t)),
            s"'$t' already exists in $at (${st.simpleString})")
          StructType(st.fields.updated(i, st.fields(i).copy(name = t)))
        case None =>
          require(st.length > 1,
            s"cannot drop the last field of $at (${st.simpleString})")
          StructType(st.fields.patch(i, Nil, 1))
      }
      case _ +: rest => st.fields(i).dataType match {
        case inner: StructType =>
          StructType(st.fields.updated(i, st.fields(i).copy(dataType =
            renameOrDropAt(inner, rest, to, s"$at.${path.head}"))))
        case other => throw new IllegalArgumentException(
          s"'$at.${path.head}' is ${other.simpleString}, not a struct")
      }
    }
  }

  /** Shared pre-flight for the NESTED mapping verbs: dotted names would
    * be ambiguous against the dot-joined path keys, so both the table's
    * top-level names and every path segment must be dot-free before a
    * nested entry may exist. */
  private def requireDotFreeFor(verb: String, path: Seq[String],
      headSchema: org.apache.spark.sql.types.StructType): Unit = {
    require(path.length >= 2,
      s"$verb takes a NESTED field path (s.f…) — top-level columns go " +
        "through the column verb")
    path.foreach(seg => require(!seg.contains('.'),
      s"$verb: path segment '$seg' contains '.' — unsupported under " +
        "path-keyed column mapping"))
    val dotted = headSchema.fieldNames.filter(_.contains('.'))
    require(dotted.isEmpty,
      s"$verb: top-level column(s) ${dotted.mkString("'", "', '", "'")} " +
        "contain '.', which is ambiguous against path-keyed mapping — " +
        "rename them first")
  }

  /** RENAME a struct FIELD (r18 — VERDICT r17 #3, nested column
    * mapping): ONE metadata commit, ZERO data rewritten — the logical
    * path re-points at the field's frozen physical name in the
    * path-keyed column map; deeper entries under the renamed field
    * re-key with it. Activating the map freezes top-level names exactly
    * like [[renameColumn]] (the commit gates "colmap", and any nested
    * entry additionally gates "colmap-nested" — a top-level-only binary
    * must refuse rather than read logical nested names that don't exist
    * physically). Refused path-wise when a CHECK constraint references
    * the field or any ancestor/descendant. ROW-VISIBLE resync
    * semantics, the rename contract; time travel to pre-rename versions
    * shows the old nested name (their commits record it). */
  def renameStructField(spark: SparkSession, root: String, writer: String,
      path: Seq[String], to: String, maxAttempts: Int = 20): Commit = {
    requireTag(to, "field name")
    require(!to.contains('.'),
      s"RENAME nested field: '$to' contains '.' — unsupported under " +
        "path-keyed column mapping")
    metadataCommit(spark, root, writer, "rename-column", maxAttempts,
        rowInvisible = false) { cur =>
      val headSchema = schemaOf(spark, root, cur)
      requireDotFreeFor("RENAME nested field", path, headSchema)
      val blocking = cur.constraints.filter { case (cn, e) =>
        constraintRefPaths(spark, root, cur, cn, e)
          .exists(p => pathsOverlap(p, path)) }
      require(blocking.isEmpty,
        s"RENAME nested field '${path.mkString(".")}': constraint" +
          s" ${blocking.map(_._1).mkString(", ")} references it — drop " +
          "the constraint, rename, re-add it under the new path")
      // a generation EXPRESSION referencing the path is SQL text the
      // verb cannot rewrite — refuse path-wise like constraints (r19)
      val genBlocking = cur.gens.filter { case (gn, ge) =>
        constraintRefPaths(spark, root, cur, s"generated '$gn'", ge)
          .exists(p => pathsOverlap(p, path)) }
      require(genBlocking.isEmpty,
        s"RENAME nested field '${path.mkString(".")}': generated column" +
          s" ${genBlocking.map(_._1).mkString(", ")} computes from it — " +
          "redeclare the table to change generation inputs")
      val widened = renameOrDropAt(headSchema, path, Some(to), "<root>")
      val base = activatedMap(cur, headSchema)
      val key = path.mkString(".")
      val newKey = (path.init :+ to).mkString(".")
      // deeper entries under the renamed field follow their parent
      val reKeyed = base.map { case (k, v) =>
        (if (k.startsWith(key + ".")) newKey + k.substring(key.length)
         else k) -> v
      }
      cur.copy(
        schemaDDL = Some(widened.toDDL),
        colMap = (reKeyed - key) +
          (newKey -> base.getOrElse(key, path.last)),
        // path-keyed existence defaults follow the rename (r19) — on
        // the field itself and on anything deeper under it
        defaults = cur.defaults.map { case (n, v, e) =>
          (if (n == key) newKey
           else if (n.startsWith(key + ".")) newKey + n.substring(key.length)
           else n, v, e) })
    }
  }

  /** DROP a struct FIELD (r18): ONE metadata commit, ZERO data
    * rewritten — the logical schema loses the field, its path-keyed map
    * entries go with it, and the physical bytes stay unread forever. A
    * later re-ADD of the same nested name takes a fresh `col-<uuid>`
    * physical ([[evolveColumns]] under an active map), so dropped data
    * can never resurrect. Same refusals and resync semantics as
    * [[renameStructField]]; additionally refused for a struct's last
    * field (drop the column instead). */
  def dropStructField(spark: SparkSession, root: String, writer: String,
      path: Seq[String], maxAttempts: Int = 20): Commit =
    metadataCommit(spark, root, writer, "drop-column", maxAttempts,
        rowInvisible = false) { cur =>
      val headSchema = schemaOf(spark, root, cur)
      requireDotFreeFor("DROP nested field", path, headSchema)
      val blocking = cur.constraints.filter { case (cn, e) =>
        constraintRefPaths(spark, root, cur, cn, e)
          .exists(p => pathsOverlap(p, path)) }
      require(blocking.isEmpty,
        s"DROP nested field '${path.mkString(".")}': constraint" +
          s" ${blocking.map(_._1).mkString(", ")} references it — drop " +
          "the constraint first")
      val genBlocking = cur.gens.filter { case (gn, ge) =>
        constraintRefPaths(spark, root, cur, s"generated '$gn'", ge)
          .exists(p => pathsOverlap(p, path)) }
      require(genBlocking.isEmpty,
        s"DROP nested field '${path.mkString(".")}': generated column" +
          s" ${genBlocking.map(_._1).mkString(", ")} computes from it — " +
          "redeclare the table to change generation inputs")
      val narrowed = renameOrDropAt(headSchema, path, None, "<root>")
      val base = activatedMap(cur, headSchema)
      val key = path.mkString(".")
      cur.copy(
        schemaDDL = Some(narrowed.toDDL),
        colMap = base.filterNot { case (k, _) =>
          k == key || k.startsWith(key + ".") },
        // path-keyed existence defaults on the dropped field (or under
        // it) go with it (r19)
        defaults = cur.defaults.filterNot { case (n, _, _) =>
          n == key || n.startsWith(key + ".") })
    }

  /** DROP a column (r16): ONE metadata commit, ZERO data rewritten —
    * the logical schema and column map lose the entry; the physical
    * bytes stay in existing dirs, unread forever (column pruning never
    * scans them), and a later re-ADD of the same logical name takes a
    * fresh `col-<uuid>` physical so the dropped data can never
    * resurrect. Same refusals and resync semantics as [[renameColumn]];
    * additionally refused for the last column, the declared clustering's
    * columns, and the recorded stats columns' SOLE member would simply
    * drop out of the set. */
  def dropColumn(spark: SparkSession, root: String, writer: String,
      name: String, maxAttempts: Int = 20): Commit =
    metadataCommit(spark, root, writer, "drop-column", maxAttempts,
        rowInvisible = false) { cur =>
      val headSchema = schemaOf(spark, root, cur)
      require(headSchema.fieldNames.contains(name),
        s"DROP COLUMN: no column '$name' in ${headSchema.simpleString}")
      require(headSchema.length > 1,
        "DROP COLUMN: cannot drop the table's last column")
      val blocking = cur.constraints.filter { case (cn, e) =>
        constraintRefs(spark, root, cur, cn, e).contains(name) }
      require(blocking.isEmpty,
        s"DROP COLUMN '$name': constraint" +
          s" ${blocking.map(_._1).mkString(", ")} references it — drop " +
          "the constraint first")
      require(!bloomColumns(spark, root).contains(name),
        s"DROP COLUMN '$name': it is one of the table's bloom columns — " +
          "sidecars are keyed outside the log; compact+rebuild first")
      require(!cur.clusterBy.exists(sp =>
        sp.stripPrefix("z:").stripPrefix("sort:").split(',').contains(name)),
        s"DROP COLUMN '$name': the declared CLUSTER BY references it — " +
          "re-declare the clustering first")
      // partition columns give every dir its identity; generated columns
      // (and their inputs) are declared invariants — both refuse (r19)
      require(!cur.partitionBy.contains(name),
        s"DROP COLUMN '$name': it is a partition column — per-dir " +
          "partition identity keys on it; rewrite explicitly")
      require(!cur.gens.exists(_._1 == name),
        s"DROP COLUMN '$name': it is GENERATED ALWAYS AS — redeclare " +
          "the table to remove the generation")
      val genBlocking = cur.gens.filter { case (gn, ge) =>
        constraintRefs(spark, root, cur, s"generated '$gn'", ge)
          .contains(name) }
      require(genBlocking.isEmpty,
        s"DROP COLUMN '$name': generated column" +
          s" ${genBlocking.map(_._1).mkString(", ")} computes from it — " +
          "redeclare the table to change generation inputs")
      val base = activatedMap(cur, headSchema)
      cur.copy(
        schemaDDL = Some(org.apache.spark.sql.types.StructType(
          headSchema.fields.filterNot(_.name == name)).toDDL),
        // nested entries under the dropped column go with it (r18)
        colMap = base.filterNot { case (k, _) =>
          k == name || k.startsWith(name + ".") },
        statsCols = cur.statsCols.filterNot(_ == name),
        stats = cur.stats.map { case (d, byCol) => d -> (byCol - name) },
        fstats = cur.fstats.map { case (k, byCol) => k -> (byCol - name) },
        // path-keyed defaults under the dropped column go with it (r19)
        defaults = cur.defaults.filterNot { case (n, _, _) =>
          n == name || n.startsWith(name + ".") })
    }

  /** SAFE type widening (r18 — VERDICT r17 #4, the Delta/Iceberg `ALTER
    * COLUMN … TYPE` evolution): retype a top-level column to a strictly
    * WIDER type as ONE metadata commit, ZERO data rewritten — the
    * recorded DDL pins the new type and every route's pinned-schema scan
    * reads old directories through parquet's lossless read-side
    * promotion (int32 files under a bigint schema, float under double,
    * decimal precision growth — supported by this Spark's vectorized
    * reader and spec-probed). Allowed, losslessly and only losslessly:
    * byte→short/int/long, short→int/long, int→long, float→double, and
    * decimal(p,s)→decimal(p',s) with p'>p (same scale). Everything else
    * keeps refusing loudly — narrowing or cross-family retypes would
    * corrupt stored values. Nested struct FIELDS widen through
    * [[widenStructFieldType]] (r19) under the same whitelist.
    *
    * Collateral soundness, each checked rather than assumed: recorded
    * per-dir STATS keep their domain (every integral maps to the one
    * long domain unchanged; fractional/decimal columns never narrow a
    * probe — litLong returns None — so their recorded ranges are inert);
    * BLOOM sidecars hash integrals as longs on both build and probe, so
    * int-built sidecars answer long probes identically; existence
    * DEFAULTS re-cast to the recorded (now wider) type at read;
    * CONSTRAINTS reference the unchanged name. rowInvisible = false:
    * the column CONTRACT changed, so incremental consumers resync like
    * a rename (downstream schemas would silently diverge otherwise). */
  def widenColumnType(spark: SparkSession, root: String, writer: String,
      name: String, to: org.apache.spark.sql.types.DataType,
      maxAttempts: Int = 20): Commit = {
    import org.apache.spark.sql.types._
    metadataCommit(spark, root, writer, "retype", maxAttempts,
        rowInvisible = false) { cur =>
      val headSchema = schemaOf(spark, root, cur)
      val i = headSchema.fieldNames.indexOf(name)
      require(i >= 0,
        s"ALTER COLUMN TYPE: no top-level column '$name' in " +
          s"${headSchema.simpleString} — nested fields widen through " +
          "the (s.f) path form")
      val from = headSchema.fields(i).dataType
      requireSafeWidening(s"'$name'", from, to)
      // a generation PRODUCING the column (its expression's type would
      // no longer match the recorded schema) or READING it (the
      // materialized output type changes) would silently break every
      // later omit-and-materialize append with a misleading
      // schema-mismatch error — refuse like rename/drop (code review
      // r19)
      require(!cur.gens.exists(_._1 == name),
        s"ALTER COLUMN TYPE: '$name' is GENERATED ALWAYS AS — " +
          "redeclare the table to change the generated type")
      val genBlocking = cur.gens.filter { case (gn, ge) =>
        constraintRefs(spark, root, cur, s"generated '$gn'", ge)
          .contains(name) }
      require(genBlocking.isEmpty,
        s"ALTER COLUMN TYPE '$name': generated column" +
          s" ${genBlocking.map(_._1).mkString(", ")} computes from it — " +
          "redeclare the table to change generation inputs")
      cur.copy(schemaDDL = Some(StructType(headSchema.fields.updated(i,
        headSchema.fields(i).copy(dataType = to))).toDDL))
    }
  }

  /** The ONE safe-widening whitelist [[widenColumnType]] and
    * [[widenStructFieldType]] share — lossless read-side promotions
    * only. */
  private def requireSafeWidening(what: String,
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    val ok = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, g: DecimalType) =>
        g.precision > f.precision && g.scale == f.scale
      case _ => false
    }
    require(ok,
      s"ALTER COLUMN TYPE: $what ${from.simpleString} -> " +
        s"${to.simpleString} is not a safe widening (allowed: " +
        "byte/short/int -> wider integral, float -> double, " +
        "decimal(p,s) -> decimal(p'>p,s)) — rewrite through a new " +
        "column instead")
  }

  /** SAFE type widening of a NESTED struct field (r19 — VERDICT r18 #3):
    * `ALTER COLUMN s.f TYPE bigint` as ONE metadata commit, ZERO data
    * rewritten — the same whitelist and contract as the top-level
    * [[widenColumnType]]; parquet's read-side promotion is per LEAF
    * column, so a nested int32 leaf under a pinned bigint schema
    * promotes exactly like a top-level one (spec-probed across mixed
    * narrow/wide dirs on the library, connector, and catalog routes).
    * Path segments resolve exactly through structs ([[renameOrDropAt]]'s
    * rule); collateral stays sound by construction: per-dir STATS,
    * BLOOM sidecars, PARTITION and GENERATED columns are all top-level
    * names (nested fields can't carry them), a recorded NESTED DEFAULT
    * re-casts to the widened type at read (the dotted-path type lookup
    * in [[applyDefaults]]), and CONSTRAINTS reference the unchanged
    * path. rowInvisible = false like the top-level verb: the field's
    * CONTRACT changed, incremental consumers resync. */
  def widenStructFieldType(spark: SparkSession, root: String,
      writer: String, path: Seq[String],
      to: org.apache.spark.sql.types.DataType,
      maxAttempts: Int = 20): Commit = {
    import org.apache.spark.sql.types.StructType
    metadataCommit(spark, root, writer, "retype", maxAttempts,
        rowInvisible = false) { cur =>
      val headSchema = schemaOf(spark, root, cur)
      requireDotFreeFor("ALTER nested COLUMN TYPE", path, headSchema)
      // generation-input guard, path-wise like the nested rename/drop
      // verbs (code review r19)
      val genBlocking = cur.gens.filter { case (gn, ge) =>
        constraintRefPaths(spark, root, cur, s"generated '$gn'", ge)
          .exists(p => pathsOverlap(p, path)) }
      require(genBlocking.isEmpty,
        s"ALTER COLUMN TYPE '${path.mkString(".")}': generated column" +
          s" ${genBlocking.map(_._1).mkString(", ")} computes from it — " +
          "redeclare the table to change generation inputs")
      def retypeAt(st: StructType, p: Seq[String], at: String): StructType = {
        val i = st.fields.indexWhere(_.name == p.head)
        require(i >= 0,
          s"ALTER COLUMN TYPE: no field '${p.head}' in $at " +
            s"(${st.simpleString})")
        p match {
          case Seq(_) =>
            requireSafeWidening(s"'${path.mkString(".")}'",
              st.fields(i).dataType, to)
            StructType(st.fields.updated(i, st.fields(i).copy(dataType = to)))
          case seg +: rest => st.fields(i).dataType match {
            case inner: StructType =>
              StructType(st.fields.updated(i, st.fields(i).copy(dataType =
                retypeAt(inner, rest, s"$at.$seg"))))
            case other => throw new IllegalArgumentException(
              s"ALTER COLUMN TYPE: '$at.$seg' is ${other.simpleString}, " +
                "not a struct")
          }
        }
      }
      cur.copy(schemaDDL = Some(retypeAt(headSchema, path, "<root>").toDDL))
    }
  }

  /** DROP a constraint by name — an audited metadata commit; unknown
    * names fail loudly (a typo'd drop must not silently "succeed"). */
  def dropConstraint(spark: SparkSession, root: String, writer: String,
      name: String, maxAttempts: Int = 20): Commit =
    dropConstraints(spark, root, writer, Seq(name), maxAttempts)

  /** DROP several constraints in ONE audited metadata commit — the bulk
    * twin of [[addConstraints]] (ADVICE r15: [[GraftCatalog]]'s rollback
    * of a failed CREATE previously issued per-constraint drop commits
    * that could themselves partially fail, leaving the pre-existing
    * external table half-rolled-back). All names are validated against
    * the head before anything commits — all-or-nothing, like the add. */
  def dropConstraints(spark: SparkSession, root: String, writer: String,
      names: Seq[String], maxAttempts: Int = 20): Commit = {
    require(names.nonEmpty, "dropConstraints needs at least one name")
    metadataCommit(spark, root, writer, "constraint-drop", maxAttempts) { cur =>
      val missing = names.filterNot(n => cur.constraints.exists(_._1 == n))
      require(missing.isEmpty,
        s"CommitLog: no constraint ${missing.map(n => s"'$n'").mkString(", ")} " +
          s"on $root (have ${cur.constraints.map(_._1).mkString(", ")})")
      cur.copy(constraints = cur.constraints.filterNot(c => names.contains(c._1)))
    }
  }

  /** TIMESTAMP-based version resolution (r13 — the Delta `TIMESTAMP AS
    * OF` rule): the newest commit whose wall-clock is at-or-before
    * `tsMs`, over MONOTONIZED timestamps — each commit's effective time
    * is max(its recorded ts, every predecessor's), exactly Delta's
    * clock-skew adjustment, so resolution follows commit order even when
    * two writers' clocks disagree. Boundary semantics: a ts equal to a
    * commit's resolves TO that commit (at-or-before); a ts before the
    * earliest retained commit throws (nothing retained was live then);
    * a ts AFTER the newest commit's throws too (ADVICE r13 — the Delta
    * after-latest-commit rule: a typo'd or future timestamp must fail
    * loudly, not silently read current data; a caller that wants the
    * head asks for the head); a RETAINED commit missing the field
    * throws — a silent guess could time-travel to the wrong version,
    * and pre-timestamp histories are explicitly outside the
    * time-resolution contract. O(retained log files), never a data
    * read. */
  def commitAtTimestamp(spark: SparkSession, root: String, tsMs: Long): Commit = {
    val resolved = monotonizedCommitClock(spark, root,
      what = "timestampAsOf", alt = "versionAsOf")
    val atOrBefore = resolved.takeWhile(_._2 <= tsMs)
    if (atOrBefore.isEmpty) throw new IllegalArgumentException(
      s"CommitLog: timestampAsOf $tsMs precedes the earliest retained " +
        s"commit of $root (v${resolved.head._1.v} at " +
        s"${resolved.head._2}) — that state is not retained")
    if (tsMs > resolved.last._2) throw new IllegalArgumentException(
      s"CommitLog: timestampAsOf $tsMs is after the newest commit of " +
        s"$root (v${resolved.last._1.v} at ${resolved.last._2}) — " +
        "a future timestamp names no committed state; read the head " +
        "(no option) or pass a timestamp at-or-before the newest commit's")
    // the clock resolves over the metadata INDEX (checkpoint-accelerated,
    // r17); the full record is then ONE point read
    val v = atOrBefore.last._1.v
    readCommitFile(spark, root, v).getOrElse(throw new IllegalStateException(
      s"CommitLog: version $v of $root vanished between timestamp " +
        "resolution and its read (racing vacuum) — raise retention"))
  }

  /** Every retained commit's index row paired with its MONOTONIZED
    * wall-clock (eff = max over predecessors — Delta's clock-skew
    * clamp), ascending by version. The ONE copy of the time-resolution
    * rules ([[commitAtTimestamp]] and [[versionBeforeTimestamp]] both
    * read it, so batch timestampAsOf and the stream's startingTimestamp
    * floor can never diverge); a retained commit missing the field
    * throws loudly. Checkpoint-accelerated through [[commitIndex]]. */
  private def monotonizedCommitClock(spark: SparkSession, root: String,
      what: String, alt: String): Seq[(IndexEntry, Long)] = {
    val cs = commitIndex(spark, root)
    require(cs.nonEmpty, s"CommitLog: no commits at $root")
    val missing = cs.filter(_.ts.isEmpty).map(_.v)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"CommitLog: $what cannot resolve over $root — retained " +
        s"commits ${missing.mkString(", ")} record no timestamp " +
        s"(pre-timestamp history); use $alt")
    var eff = Long.MinValue
    cs.map { c => eff = math.max(eff, c.ts.get); (c, eff) }
  }

  /** Load the snapshot as of wall-clock `tsMs` — [[commitAtTimestamp]]'s
    * read half: time travel by timestamp instead of version. */
  def readAsOfTimestamp(spark: SparkSession, root: String, tsMs: Long): DataFrame = {
    val c = commitAtTimestamp(spark, root, tsMs)
    load(spark, root, c)
  }

  /** The REPLAY FLOOR for a wall-clock: the newest version whose
    * monotonized timestamp is strictly BEFORE `tsMs`, or 0 when every
    * retained commit is at-or-after it — a stream starting at this floor
    * delivers exactly the commits at-or-after `tsMs` (Delta's
    * `startingTimestamp` rule; same monotonization and loud missing-field
    * behavior as [[commitAtTimestamp]]). A floor of 0 needs version 1
    * retained to replay — the stream's own retention contract. */
  def versionBeforeTimestamp(spark: SparkSession, root: String, tsMs: Long): Long =
    monotonizedCommitClock(spark, root,
      what = "startingTimestamp", alt = "startingVersion")
      .takeWhile(_._2 < tsMs).lastOption.map(_._1.v).getOrElse(0L)

  /** Atomic create-exclusive of the claim file with `content`. True =
    * this writer owns the version. */
  private def tryClaim(spark: SparkSession, root: String, v: Long,
      content: String): Boolean =
    atomicCreate(fs(spark, root), commitPath(root, v),
      content.getBytes(StandardCharsets.UTF_8))

  /** Atomic create-exclusive of `p` carrying `bytes`; true = this caller
    * created it. The claim-file primitive, also used for the bloom
    * `_column` marker (one-writer-wins metadata). */
  /** CLAIM-BACKEND seam (r17 — VERDICT r16 #7, stretch): the ONE
    * create-exclusive primitive every commit claim (and one-writer-wins
    * marker) rides on, extracted behind an injectable trait so S3-class
    * deployments — where plain create-exclusive does not hold — can slot
    * a conditional-write (If-None-Match) or external-lock backend
    * WITHOUT touching the commit protocol: the documented non-goal
    * becomes a configuration instead of a rewrite. The default backend
    * is the previous inline logic verbatim; the racing-writers suites
    * exercise the seam by construction (every claim routes through it,
    * spec-asserted with a counting wrapper + a lose-everything fake).
    *
    * Backend-selection matrix (r19 — VERDICT r18 #6; pick by what the
    * store can promise, all three raced through the same 8-writer
    * serializability spec):
    *
    *   - [[DefaultClaimBackend]] (hard-link / create-exclusive): POSIX
    *     filesystems, HDFS, and HDFS-likes with an atomic create flag
    *     (ABFS). Zero extra moving parts — the flag is the condition.
    *   - [[LockLease.ConditionalPutClaimBackend]] (If-None-Match
    *     conditional create): object stores that evaluate a
    *     precondition atomically with the PUT — S3 (2024+), GCS, Azure
    *     Blob. Still zero external services; the store's own condition
    *     is the mutual exclusion.
    *   - [[LockLease.LockLeaseClaimBackend]] (leased locks + fencing
    *     tokens over blind PUT): stores offering ONLY last-writer-wins
    *     PUT (pre-conditional-write S3) — the Delta-on-S3
    *     DynamoDB-table shape, the one regime that needs external
    *     coordination. */
  trait ClaimBackend {
    /** Atomically create `p` carrying `bytes` — true iff THIS caller
      * created it; false iff it already existed. Must be atomic under
      * concurrent callers: two writers may both attempt the same path
      * and exactly one may win. Any other failure should throw. */
    def tryCreate(f: org.apache.hadoop.fs.FileSystem, p: HPath,
        bytes: Array[Byte]): Boolean
  }

  /** Hard-link claim on local filesystems (full content visible from the
    * first instant — no torn-claim window), create-exclusive on
    * HDFS-likes where the flag is atomic. */
  object DefaultClaimBackend extends ClaimBackend {
    override def tryCreate(f: org.apache.hadoop.fs.FileSystem, p: HPath,
        bytes: Array[Byte]): Boolean = defaultAtomicCreate(f, p, bytes)
  }

  @volatile private var claimBackendRef: ClaimBackend = DefaultClaimBackend

  /** Install a claim backend (None/default restores the built-in). A
    * deployment-level switch: set it once at startup, before any writer
    * runs — it is process-global like the protocol it serves. */
  def setClaimBackend(b: ClaimBackend): Unit = { claimBackendRef = b }
  def resetClaimBackend(): Unit = { claimBackendRef = DefaultClaimBackend }

  private def atomicCreate(f: org.apache.hadoop.fs.FileSystem, p: HPath,
      bytes: Array[Byte]): Boolean =
    claimBackendRef.tryCreate(f, p, bytes)

  private def defaultAtomicCreate(f: org.apache.hadoop.fs.FileSystem,
      p: HPath, bytes: Array[Byte]): Boolean = {
    if (p.toUri.getScheme == null || p.toUri.getScheme == "file") {
      // local fs: Hadoop's create(overwrite=false) is check-then-create
      // (TOCTOU). Write the FULL content to a private temp file, then
      // claim via hard LINK — link(2) fails with EEXIST atomically, and
      // the claimed file carries complete content from the instant it
      // becomes visible (no torn-claim window at all on this path)
      val local = java.nio.file.Paths.get(
        Option(p.toUri.getPath).getOrElse(p.toString))
      val tmp = local.resolveSibling(
        s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.write(tmp, bytes)
      try {
        java.nio.file.Files.createLink(local, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      try {
        val out = f.create(p, false) // atomic create-exclusive on HDFS-likes
        try out.write(bytes) finally out.close()
        true
      } catch { case _: FileAlreadyExistsException => false }
    }
  }

  /** Newest version NUMBER present in the log — committed OR torn (a torn
    * tail is still a file). Fast path (ADVICE r12): start from the
    * advisory head pointer and probe FORWARD by existence checks, the
    * same dense-suffix argument [[latest]] uses — so writer claim loops
    * (which call [[repairTornTail]] every attempt) stop paying the
    * O(retained-history) listing the pointer was built to remove. A
    * missing/stale-beyond-retention pointer degrades to the listing walk. */
  private def newestPresentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    readHeadPointer(f, root) match {
      case Some(v) if f.exists(commitPath(root, v)) =>
        var cur = v
        while (f.exists(commitPath(root, cur + 1))) cur += 1
        Some(cur)
      case _ => versions(spark, root).lastOption
    }
  }

  /** Repair a torn tail claim before building against it: the claim
    * exists but the commit content never completed — delete (idempotent
    * under racing repairers) and let the caller re-claim. Local-fs claims
    * are hard-linked with full content, so a torn tail there is
    * impossible; on HDFS-likes the create→write→close window means a
    * SLOW living writer is indistinguishable from a dead one, so repair
    * only files older than a grace period (a live claimant finishes its
    * ~300-byte write in milliseconds). */
  private def repairTornTail(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    newestPresentVersion(spark, root).filter { v =>
      readCommitFile(spark, root, v).isEmpty && {
        // the file may vanish between the listing and this stat (a
        // racing repairer or vacuum) — then there is nothing to repair
        try {
          val st = f.getFileStatus(commitPath(root, v))
          System.currentTimeMillis() - st.getModificationTime > 10000L
        } catch { case _: java.io.FileNotFoundException => false }
      }
    }.foreach(v => f.delete(commitPath(root, v), false))
  }

  /** OPTIMISTIC READ-MODIFY-WRITE commit (full rewrite). `build` receives
    * the CURRENT committed snapshot (None for an empty table) and returns
    * the full next snapshot; on a lost claim the staged data is discarded
    * and `build` re-runs against the new state — so the committed history
    * is serializable regardless of writer interleaving. Returns the
    * winning commit. `maxAttempts` bounds livelock under pathological
    * contention. `statsCol` names a long-typed column whose per-dir
    * [min, max] is recorded for [[readLatestWhere]] data skipping;
    * `statsCols` (r13) extends the recorded set to MULTIPLE columns —
    * the Delta per-column min/max shape — so predicates on any recorded
    * column prune (one extra agg pair per column, same single scan). */
  def commit(spark: SparkSession, root: String, writer: String, action: String,
      maxAttempts: Int = 20, statsCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      createOnEmpty: Boolean = false)(
      build: Option[DataFrame] => DataFrame): Commit =
    commitImpl(spark, root, writer, action, maxAttempts,
      (statsCol.toSeq ++ statsCols).distinct, rowInvisible = false,
      createOnEmpty = createOnEmpty)(build)

  /** The rewrite engine behind [[commit]] (rowInvisible=false, always)
    * and [[compact]] (rowInvisible=true — only row-preserving internal
    * verbs may claim consumer-skippability). */
  /** `createOnEmpty` (code review r14): the audit action is decided PER
    * CLAIM ATTEMPT from the head the attempt actually builds on — a
    * first commit records "create", anything else the caller's verb. A
    * pre-loop exists check would mislabel under a racing first writer
    * (the loser's retry would still stamp "create" at version 2). */
  private def commitImpl(spark: SparkSession, root: String, writer: String,
      action: String, maxAttempts: Int, statsCols: Seq[String],
      rowInvisible: Boolean,
      clusterSpec: Option[String] = None,
      createOnEmpty: Boolean = false)(
      build: Option[DataFrame] => DataFrame): Commit = {
    requireTag(writer, "writer"); requireTag(action, "action")
    statsCols.foreach(sc => requireTag(sc, "statsCol"))
    init(spark, root)
    val f = fs(spark, root)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      repairTornTail(spark, root)
      val cur = latest(spark, root)
      cur.foreach(requireWritable) // writer gates refuse before staging
      val nextV = cur.map(_.version).getOrElse(0L) + 1
      // GENERATED columns (r19): conform-or-refuse the rebuilt snapshot
      // like any batch; rowInvisible verbs (compact) are row-identical
      // to a parent that already passed
      val gens = cur.map(_.gens).getOrElse(Nil)
      val next0 = build(cur.map(c => load(spark, root, c)))
      val next =
        if (rowInvisible) next0
        else conformGenerated(next0, gens, cur.map(c =>
          schemaOf(spark, root, c).fieldNames.toSeq).getOrElse(Nil))
      // a bad statsCol must fail BEFORE the snapshot write, not after
      // minutes of I/O with an orphaned staging left behind
      statsCols.foreach(sc => require(next.columns.contains(sc),
        s"statsCol '$sc' not in snapshot schema ${next.schema.simpleString}"))
      // CHECK constraints gate every rewrite before staging (r14);
      // rowInvisible verbs (compact) are row-identical to a parent that
      // already passed, so re-scanning the table would buy nothing
      val cons = cur.map(_.constraints).getOrElse(Nil)
      if (!rowInvisible) { enforceConstraints(next, cons)
        enforceGenerated(next, gens) }
      // partition spec (r19): a partitioned table's rewrite stages SPLIT
      // per partition tuple (logical names — the rewrite clears any map)
      val pby = cur.map(_.partitionBy).getOrElse(Nil)
      val staged: Seq[(String, Seq[String])] = {
        val split =
          if (pby.isEmpty) Nil
          else stagePartitioned(spark, root, next, pby, Map.empty, nextV)
        // unpartitioned — or an EMPTY partitioned snapshot, which splits
        // to zero dirs but a commit must list at least one (parse rule):
        // stage the one (possibly empty) unsplit dir instead
        if (split.nonEmpty) split
        else {
          val d = s"data-${java.util.UUID.randomUUID().toString.take(8)}-v$nextV"
          next.write.mode(SaveMode.Overwrite).parquet(s"$root/$d")
          Seq(d -> Nil)
        }
      }
      val ft = footers(spark, root, staged.map(_._1), statsCols)
      val c = Commit(nextV, staged.map(_._1), writer,
        if (createOnEmpty && cur.isEmpty) "create" else action,
        ft.stats, rowInvisible,
        statsCols = if (ft.stats.nonEmpty) statsCols else Nil,
        clusterSpec = clusterSpec, schemaDDL = Some(recordedDDL(next.schema)),
        tsMs = Some(System.currentTimeMillis()),
        constraints = cons,
        clusterBy = cur.flatMap(_.clusterBy),
        defaults = cur.map(_.defaults).getOrElse(Nil),
        fstats = ft.fstats,
        partitionBy = pby,
        partVals = staged.collect { case (d, vs) if vs.nonEmpty => d -> vs }
          .toMap,
        rows = ft.rows,
        gens = gens)
      if (tryClaim(spark, root, nextV, encode(c))) {
        writeHeadPointer(f, root, nextV); return c
      }
      // lost the race: another writer committed nextV first — discard the
      // stale staging (built against an outdated snapshot), back off
      // linearly (also paces retries while a torn-young tail ages past
      // the repair grace), and retry
      staged.foreach(dn => f.delete(new HPath(s"$root/${dn._1}"), true))
      Thread.sleep(50L * attempt)
    }
    throw new java.io.IOException(
      s"CommitLog: $writer lost $maxAttempts consecutive claims on $root — " +
        "pathological contention; raise maxAttempts or reduce writers")
  }

  /** O(DELTA) APPEND commit: writes ONLY `delta`'s rows into a fresh
    * directory and commits prior dirs + the delta — appending to a 100 TB
    * table costs the new rows plus one log file, never a table rewrite.
    * The delta's content is independent of the table head, so a lost
    * claim retries by RE-REFERENCING the new head's directory list; the
    * staged delta is written once and never rebuilt (the optimistic
    * conflict cost of an append is a re-list, ~free). Callers own schema
    * compatibility with the existing snapshot, as with any parquet
    * append. `statsCol` records the delta dir's [min, max] for
    * [[readLatestWhere]]; prior dirs keep whatever stats their own
    * commits recorded (carried forward through the head). */
  def commitAppend(spark: SparkSession, root: String, writer: String,
      action: String, maxAttempts: Int = 20,
      statsCol: Option[String] = None,
      evolve: Boolean = false,
      statsCols: Seq[String] = Nil,
      createOnEmpty: Boolean = false)(delta: DataFrame): Commit =
    appendImpl(spark, root, writer, action, maxAttempts,
      (statsCol.toSeq ++ statsCols).distinct,
      txn = None, evolve = evolve, createOnEmpty = createOnEmpty)(delta)

  /** Newest retained txn watermark for `appId` — the largest batch id any
    * retained commit records for that app (commits are scanned newest-
    * first; the first hit wins because one app's batches commit in
    * order). Never a data read; worst case O(retained log files) point
    * reads when no commit carries the app's watermark, but the walk
    * starts from the head POINTER (ADVICE r12 — no directory listing)
    * and a steady writer finds its own watermark within its commit
    * cadence of the head. Retention caveat (the Delta txn-retention
    * contract): [[vacuum]] drops old commits' watermarks with them, so
    * `keep` must exceed the longest writer restart window or a very
    * stale writer may re-append its last batch. */
  def lastTxn(spark: SparkSession, root: String, appId: String): Option[Long] = {
    val f = fs(spark, root)
    val top = newestPresentVersion(spark, root).getOrElse(return None)
    var v = top
    while (v >= 1) {
      readCommitFile(spark, root, v) match {
        case Some(c) =>
          c.txn match {
            case Some((a, b)) if a == appId => return Some(b)
            case _ => ()
          }
        case None =>
          // a MISSING file below the top is the retention edge — nothing
          // older is retained, stop. A PRESENT-but-unparseable file (the
          // torn tail, or one bit-rotted commit) is SKIPPED, never a
          // stop: halting there would hide every older watermark and
          // turn one damaged file into duplicate appends (code review
          // r13 — the pre-r13 listing walk skipped such files too).
          if (v != top && !f.exists(commitPath(root, v))) return None
      }
      v -= 1
    }
    None
  }

  /** IDEMPOTENT transactional append — the Delta `txn` / foreachBatch
    * exactly-once story: the commit records `(appId, batchId)`, and a
    * batch whose id is ≤ the newest retained watermark for `appId` is a
    * NO-OP returning the current head. Safe under re-delivery (a crash
    * between a sink write and Spark's checkpoint advance re-runs the
    * batch) AND under zombie writers (two instances of one app racing the
    * same batch: the watermark is re-checked against the fresh head on
    * every claim attempt, so the loser's retry sees the winner's
    * watermark and no-ops). Requires batch ids non-decreasing per app —
    * the Structured Streaming epoch contract. Combined with
    * [[graft.streaming.StreamOps.runStreamToCommitLog]] this makes
    * `writeStream → commit log` exactly-once end-to-end. */
  def commitAppendOnce(spark: SparkSession, root: String, writer: String,
      action: String, appId: String, batchId: Long, maxAttempts: Int = 20,
      statsCol: Option[String] = None,
      statsCols: Seq[String] = Nil)(delta: DataFrame): Commit = {
    requireTag(appId, "appId") // embeds in the claim JSON
    appendImpl(spark, root, writer, action, maxAttempts,
      (statsCol.toSeq ++ statsCols).distinct,
      txn = Some((appId, batchId)), evolve = false)(delta)
  }

  private def appendImpl(spark: SparkSession, root: String, writer: String,
      action: String, maxAttempts: Int, statsCols: Seq[String],
      txn: Option[(String, Long)], evolve: Boolean,
      createOnEmpty: Boolean = false)(delta0: DataFrame): Commit = {
    requireTag(writer, "writer"); requireTag(action, "action")
    statsCols.foreach(sc => requireTag(sc, "statsCol"))
    init(spark, root)
    val f = fs(spark, root)
    // already-applied batch: answer from the log alone, before any
    // schema read or delta write
    txn.foreach { case (app, b) =>
      if (lastTxn(spark, root, app).exists(_ >= b))
        return latest(spark, root).getOrElse(throw new IllegalStateException(
          s"CommitLog: txn watermark for $app exists but no commit parses"))
    }
    repairTornTail(spark, root)
    // SCHEMA enforcement: the head is read as the union of dirs, so a
    // delta whose columns drift (renamed, re-typed) would silently merge
    // into a franken-schema on the next read. Names + types must match
    // the head exactly (nullability may widen — parquet reads it back
    // nullable anyway).
    val headNow = latest(spark, root)
    headNow.foreach(requireWritable) // writer gates refuse pre-staging
    // GENERATED columns (r19): an omitted generated column materializes
    // from its recorded expression BEFORE the schema check compares like
    // for like; supplied columns validate in validateSchemaAgainst
    val delta = headNow.map(h => conformGenerated(delta0, h.gens,
        schemaOf(spark, root, h).fieldNames.toSeq))
      .getOrElse(delta0)
    // ADDITIVE SCHEMA EVOLUTION (r12): under an EXPLICIT evolve=true, a
    // delta may carry a superset of the head's columns — the new commit
    // then RECORDS the widened schema (head's fields in their order, new
    // fields after) in its JSON, and every reader pins it, so
    // pre-evolution directories fill the new columns with typed NULLs
    // (the q_source_evolved union, answered from the log instead of a
    // mergeSchema footer sweep). Without evolve the contract stays exact:
    // silent drift is the bug this check exists to catch.
    //
    // Validation runs against a SPECIFIC head and is RE-RUN inside the
    // claim loop whenever the head moved (code review r12): computed only
    // against the pre-loop head, a lost claim against a CONCURRENT
    // EVOLUTION would commit a recorded schema derived from the stale
    // head — silently clipping the racing writer's new column from every
    // pinned read. Re-validating against the fresh head turns that race
    // into the same loud additive-only/exact-match error a sequential
    // mismatch gets.
    def validateSchemaAgainst(h: Commit): String = {
      val headSchema = schemaOf(spark, root, h)
      val added = if (!evolve) {
        val same = headSchema.length == delta.schema.length &&
          headSchema.zip(delta.schema).forall { case (a, b) =>
            a.name == b.name && sameTypeLoose(a.dataType, b.dataType) }
        require(same,
          s"commitAppend schema mismatch vs head v${h.version}: " +
            s"head ${headSchema.simpleString} vs delta ${delta.schema.simpleString} " +
            "— add columns with commitAppend(evolve = true); rename/retype " +
            "with a rewrite commit")
        Nil
      } else {
        val deltaTypes = delta.schema.map(f => f.name -> f.dataType).toMap
        val broken = headSchema.filterNot(hf =>
          deltaTypes.get(hf.name).exists(sameTypeLoose(_, hf.dataType)))
        require(broken.isEmpty,
          s"commitAppend(evolve) vs head v${h.version}: evolution is " +
            s"ADDITIVE only — delta must carry every head column unchanged, " +
            s"but ${broken.map(_.toDDL).mkString(", ")} are missing/retyped " +
            s"in delta ${delta.schema.simpleString}")
        val added = delta.schema.filterNot(f =>
          headSchema.fieldNames.contains(f.name))
        // sound-or-refuse under an active column mapping (r16): an
        // evolve-append would need to mint physical names mid-claim-loop
        // — the ALTER TABLE ADD COLUMNS verb owns that; append after
        require(added.isEmpty || h.colMap.isEmpty,
          "commitAppend(evolve) on a column-mapped table — ALTER TABLE " +
            "ADD COLUMNS first (it extends the mapping), then append")
        added
      }
      // stats columns are ONE set per table (the map is carried forward,
      // so heterogeneous sets would poison every later range prune)
      if (statsCols.nonEmpty && h.statsCols.nonEmpty)
        require(statsCols.toSet == h.statsCols.toSet,
          s"statsCols ${statsCols.mkString("[", ",", "]")} conflict with " +
            s"the table's recorded stats columns " +
            s"${h.statsCols.mkString("[", ",", "]")} — one stats column " +
            "set per table; change it with a rewrite")
      // CHECK constraints gate the delta BEFORE its staging write (r14) —
      // re-run against the fresh head on a lost claim like the schema
      // check, so a concurrently-added constraint still rejects the batch
      enforceConstraints(delta, h.constraints)
      // supplied GENERATED-column values must equal the recorded
      // expression (r19) — re-run against the fresh head like the rest
      enforceGenerated(delta, h.gens)
      // the schema this append records: the widened one under an
      // evolution, the head's otherwise (pre-evolution dirs stay in the
      // union)
      if (added.isEmpty) carriedDDL(h, headSchema)
      else recordedDDL(StructType(headSchema.fields ++ added))
    }
    // an append creating the table records the delta's schema
    def ddlFor(h: Option[Commit]): String =
      h.map(validateSchemaAgainst).getOrElse(recordedDDL(delta.schema))
    var validatedAt: Option[Long] = headNow.map(_.version)
    var ddl = ddlFor(headNow)
    // a bad statsCol must fail BEFORE the delta write (no orphan staging)
    statsCols.foreach(sc => require(delta.columns.contains(sc),
      s"statsCol '$sc' not in delta schema ${delta.schema.simpleString}"))
    var tentative = headNow.map(_.version).getOrElse(0L) + 1
    // column mapping (r16): stage under the head's frozen PHYSICAL names
    var stagedMap = headNow.map(_.colMap).getOrElse(Map.empty)
    // partition spec (r19): a partitioned table's delta stages SPLIT per
    // partition tuple — one dir per tuple, each with its recorded values
    var stagedPartBy = headNow.map(_.partitionBy).getOrElse(Nil)
    def stageDelta(): Seq[(String, Seq[String])] =
      if (stagedPartBy.isEmpty) {
        val d = s"data-${java.util.UUID.randomUUID().toString.take(8)}-v$tentative"
        toPhysical(delta, stagedMap).write
          .mode(SaveMode.Overwrite).parquet(s"$root/$d")
        Seq(d -> Nil)
      } else stagePartitioned(spark, root, delta, stagedPartBy, stagedMap,
        tentative)
    var deltaDirs = stageDelta()
    def deleteStaged(): Unit =
      deltaDirs.foreach(dn => f.delete(new HPath(s"$root/${dn._1}"), true))
    def footersOfStaged(): Footers =
      footers(spark, root, deltaDirs.map(_._1), statsCols, stagedMap)
    var deltaFt = footersOfStaged()
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      repairTornTail(spark, root)
      val cur = latest(spark, root)
      cur.foreach(requireWritable)
      // zombie-writer guard: a racing instance of the same app may have
      // committed this batch since the pre-check. Re-verify AFTER reading
      // `cur` (ordering matters): our claim succeeds only if no commit
      // landed after `cur`, and any commit already in `cur` is visible to
      // this later watermark listing — so a duplicate either loses the
      // claim or sees the watermark; it can never append.
      txn.foreach { case (app, b) =>
        if (lastTxn(spark, root, app).exists(_ >= b)) {
          deleteStaged()
          return latest(spark, root).getOrElse(throw new IllegalStateException(
            s"CommitLog: txn watermark for $app exists but no commit parses"))
        }
      }
      // the head MOVED since validation (a lost claim, or a commit landing
      // between the pre-check and attempt 1): re-validate the delta and
      // recompute the recorded schema against the commit we now build on —
      // a concurrent evolution fails loudly here (delete the staging
      // first) instead of committing a stale recorded schema
      if (cur.map(_.version) != validatedAt) {
        ddl =
          try ddlFor(cur)
          catch { case e: Throwable => deleteStaged(); throw e }
        validatedAt = cur.map(_.version)
      }
      // a DEFAULTED evolution landed after we staged (r16): our dir's
      // name-embedded version predates the default's `since`, so readers
      // would wrongly coalesce the delta's explicit NULLs to the
      // constant; a RENAME/DROP landed: our staging's physical names are
      // stale; a PARTITION SPEC landed (r19): our staging isn't split.
      // Either way: re-stage the same rows under fresh names with the
      // fresh map/spec (rare race; one extra delta write).
      if (cur.exists(_.defaults.exists(_._2 > tentative)) ||
          cur.map(_.colMap).getOrElse(Map.empty) != stagedMap ||
          cur.map(_.partitionBy).getOrElse(Nil) != stagedPartBy) {
        deleteStaged()
        tentative = cur.map(_.version).getOrElse(0L) + 1
        stagedMap = cur.map(_.colMap).getOrElse(Map.empty)
        stagedPartBy = cur.map(_.partitionBy).getOrElse(Nil)
        deltaDirs = stageDelta()
        deltaFt = footersOfStaged()
      }
      val nextV = cur.map(_.version).getOrElse(0L) + 1
      val allStats = cur.map(_.stats).getOrElse(Map.empty) ++ deltaFt.stats
      val effCols =
        if (statsCols.nonEmpty) statsCols
        else cur.map(_.statsCols).getOrElse(Nil)
      val c = Commit(nextV,
        cur.map(_.dataDirs).getOrElse(Nil) ++ deltaDirs.map(_._1),
        writer,
        // per-attempt create labeling (code review r14, see commitImpl)
        if (createOnEmpty && cur.isEmpty) "create" else action,
        allStats,
        statsCols = if (allStats.nonEmpty) effCols else Nil,
        txn = txn,
        schemaDDL = Some(ddl),
        tsMs = Some(System.currentTimeMillis()),
        constraints = cur.map(_.constraints).getOrElse(Nil),
        // an append never touches stored rows: prior dirs' deletion
        // vectors carry verbatim (dropping one would resurrect rows)
        dv = cur.map(_.dv).getOrElse(Map.empty),
        clusterBy = cur.flatMap(_.clusterBy),
        defaults = cur.map(_.defaults).getOrElse(Nil),
        colMap = stagedMap,
        fstats = cur.map(_.fstats).getOrElse(Map.empty) ++ deltaFt.fstats,
        partitionBy = stagedPartBy,
        partVals = cur.map(_.partVals).getOrElse(Map.empty) ++
          deltaDirs.collect { case (d, vs) if vs.nonEmpty => d -> vs },
        rows = cur.map(_.rows).getOrElse(Map.empty) ++ deltaFt.rows,
        dvRows = cur.map(_.dvRows).getOrElse(Map.empty),
        gens = cur.map(_.gens).getOrElse(Nil))
      if (tryClaim(spark, root, nextV, encode(c))) {
        writeHeadPointer(f, root, nextV); return c
      }
      Thread.sleep(50L * attempt)
    }
    // give up: remove the never-committed delta so it reads as a lost
    // staging (vacuum would sweep it anyway once its version is passed)
    deleteStaged()
    throw new java.io.IOException(
      s"CommitLog: $writer lost $maxAttempts consecutive append claims on $root")
  }

  /** COMPACTION (the lakehouse OPTIMIZE): consolidate the head's
    * accumulated directory fragmentation — a packed base plus N append
    * deltas, each with its own small files — committed through the
    * optimistic claim loop as action="compact". Rows are read-equivalent
    * by construction (the build is identity over the visible rows), and
    * serializable under concurrent writers: if an append lands
    * mid-compact, the lost claim re-reads the NEW head and re-plans, so
    * no committed row is ever dropped. `coalesce` (not repartition)
    * collapses the read partitions without a shuffle — the same
    * bin-packing-without-shuffle shape Delta's OPTIMIZE uses.
    *
    * TWO modes (r18 — VERDICT r17 #1). The argument-less cadence BIN-
    * PACKS ([[packCompact]]): only dirs under `packBytes` of parquet or
    * carrying a deletion vector consolidate into one new dir; every
    * well-packed dir carries byte-identical with stats preserved — each
    * hit costs O(fragmented tail), never O(table). Explicit
    * sortCols/zorderCols — or a declared CLUSTER BY the retained history
    * shows was never applied, or applied differently — take the FULL
    * whole-head re-cluster ([[fullCompact]], the OPTIMIZE FULL shape),
    * which additionally materializes vectors, defaults, and logical
    * names. Already-conformant heads return the existing commit
    * untouched — compaction must be safely schedulable on a cadence
    * without rewriting quiescent tables. The commit is marked
    * `rowInvisible`, so incremental consumers ([[appendedSince]], the
    * changefeed tail) skip it instead of resyncing — OPTIMIZE never
    * re-delivers the table downstream.
    *
    * Scale: an uncompacted 1000-append day leaves 1000 directories whose
    * listing + footer reads dominate scan planning long before the data
    * scan starts (SCALE.md r10 measured 8.3 s of planning per 2048 files);
    * compact + [[vacuum]] bound the head at O(packed dirs +
    * appends-since-compact) files regardless of history length, at the
    * cost of rewriting the fragmented tail — amortized across the appends
    * it absorbs, exactly the OPTIMIZE trade. Returns None on an empty
    * table. */
  def compact(spark: SparkSession, root: String, writer: String,
      targetFiles: Int = 4, maxAttempts: Int = 20,
      statsCol: Option[String] = None,
      sortCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      packBytes: Long = DefaultPackBytes): Option[Commit] = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "pass sortCols (1-D clustering) OR zorderCols (multi-dim), not both")
    require(zorderCols.isEmpty || zorderCols.size >= 2,
      s"zorderCols needs >= 2 dims (use sortCols for one): $zorderCols")
    latest(spark, root).map { head =>
      (sortCols ++ zorderCols).foreach(c => requireTag(c, "cluster column"))
      val explicit = sortCols.nonEmpty || zorderCols.nonEmpty
      // no explicit columns: default to the table's DECLARED spec (r16 —
      // `CREATE/ALTER TABLE … CLUSTER BY` via [[setClusterBy]]), so a
      // scheduled argument-less compact maintains the declared layout —
      // the liquid-clustering cadence. Explicit arguments override.
      val (effSortCols, effZorderCols) =
        if (explicit) (sortCols, zorderCols)
        else head.clusterBy match {
          case Some(sp) if sp.startsWith("z:") =>
            (Nil, sp.stripPrefix("z:").split(',').toSeq)
          case Some(sp) if sp.startsWith("sort:") =>
            (sp.stripPrefix("sort:").split(',').toSeq, Nil)
          case _ => (Nil, Nil)
        }
      val requested =
        if (effZorderCols.nonEmpty) Some("z:" + effZorderCols.mkString(","))
        else if (effSortCols.nonEmpty) Some("sort:" + effSortCols.mkString(","))
        else None
      val effStatsCols =
        if (statsCol.nonEmpty) statsCol.toSeq else head.statsCols
      // FULL-vs-INCREMENTAL (r18 — VERDICT r17 #1): explicit layout
      // arguments demand a whole-head re-cluster (the OPTIMIZE FULL
      // shape), as does a DECLARED spec the retained history shows was
      // never applied (or was applied differently) by a maintenance
      // pass — the one-time price of establishing a layout. Every other
      // cadence hit BIN-PACKS: only under-packed/dv-bearing dirs
      // consolidate; well-packed dirs carry byte-identical, so a steady
      // append cadence costs O(fragmented tail), never O(table).
      val full = explicit ||
        (requested.nonEmpty && lastAppliedSpec(spark, root, head) != requested)
      if (full) fullCompact(spark, root, writer, head, targetFiles,
        maxAttempts, effStatsCols, effSortCols, effZorderCols, requested)
      else packCompact(spark, root, writer, targetFiles, maxAttempts,
        effStatsCols, effSortCols, effZorderCols, requested, packBytes)
    }
  }

  /** Default byte threshold below which a directory counts as
    * under-packed for the argument-less [[compact]] cadence — 128 MiB,
    * a comfortable parquet file size at production scale. Fixture-scale
    * tables sit entirely below it, so small tables keep the historical
    * consolidate-everything behavior. */
  val DefaultPackBytes: Long = 128L << 20

  /** The clustering spec the last retained maintenance pass APPLIED —
    * the argument-less cadence's layout bookkeeping. Walks from the head
    * to the first compact (its recorded spec answers) or the first
    * layout-resetting full rewrite / retention edge (None — nothing is
    * known to be clustered). Cost: O(commits since the last compact)
    * point reads from the head pointer, the lastTxn walk shape.
    * Best-effort in the safe-for-correctness direction: compaction
    * never changes rows, only layout quality. */
  private def lastAppliedSpec(spark: SparkSession, root: String,
      head: Commit): Option[String] = {
    val f = fs(spark, root)
    var v = head.version
    while (v >= 1) {
      readCommitFile(spark, root, v) match {
        case Some(c) =>
          if (c.action == "compact") return c.clusterSpec
          if (c.action == "create" || c.action == "restore" ||
              c.action == "overwrite") return None
        case None =>
          // retention edge (the lastTxn rule): nothing older is known
          if (v != head.version && !f.exists(commitPath(root, v)))
            return None
      }
      v -= 1
    }
    None
  }

  /** The whole-head rewrite (pre-r18 compact): one consolidated dir of
    * `targetFiles` files, everything materialized (vectors, defaults,
    * logical names — commitImpl records no dv/colMap; its schemaDDL is
    * the rewritten rows' schema). Plain
    * compact coalesces (no shuffle); SORTED compact range-partitions +
    * sorts so each file covers a NARROW key range — parquet row-group
    * min/max then prune pushed key predicates inside the consolidated
    * dir; ZORDER compact clusters on the Morton key of 2+ dims so every
    * file is narrow in ALL of them. The shuffle is the documented price
    * of clustering. Already-conformant quiescent heads return untouched
    * (the schedulable-cadence contract). */
  private def fullCompact(spark: SparkSession, root: String, writer: String,
      head: Commit, targetFiles: Int, maxAttempts: Int,
      effStatsCols: Seq[String], effSortCols: Seq[String],
      effZorderCols: Seq[String], requested: Option[String]): Commit = {
    // multi-dir heads always compact — count files (one listing per
    // dir) only in the single-dir case, where it decides the no-op.
    // A head carrying deletion vectors ALWAYS compacts (r16): the
    // rewrite reads visible rows, so compaction is what MATERIALIZES
    // vectors away — a dv-bearing head is never "already compact".
    def nFiles = {
      val f = fs(spark, root)
      head.dataDirs.iterator.map { d =>
        Option(f.listStatus(new HPath(root, d))).toSeq.flatten
          .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      }.sum
    }
    if (head.dataDirs.size <= 1 && nFiles <= targetFiles &&
        head.dv.isEmpty &&
        (requested.isEmpty || head.clusterSpec == requested))
      head
    else commitImpl(spark, root, writer, "compact", maxAttempts,
      effStatsCols, rowInvisible = true, clusterSpec = requested) { cur =>
      // cur is always Some here: versions only grow, and the head
      // existed when compaction started
      val snap = cur.get
      if (effZorderCols.nonEmpty)
        graft.operators.Layout.clusterZOrdered(snap, effZorderCols, targetFiles)
      else if (effSortCols.isEmpty) snap.coalesce(targetFiles)
      else snap
        .repartitionByRange(targetFiles, effSortCols.map(col): _*)
        .sortWithinPartitions(effSortCols.map(col): _*)
    }
  }

  /** INCREMENTAL (bin-packing) compaction (r18 — VERDICT r17 #1, the
    * Delta OPTIMIZE bin-pack): consolidate ONLY the under-packed tail —
    * dirs below `packBytes` of parquet, plus every dv-bearing dir (the
    * rewrite materializes its vector away) — into one new directory,
    * carrying every well-packed dir BYTE-IDENTICAL with its stats,
    * vectors (none, by construction), and column-map entries preserved:
    * the prunedRewrite carry discipline applied to the maintenance verb
    * itself. On an append cadence each hit costs O(appends since the
    * last pack), never O(table) — the last O(table) maintenance verb
    * gone. No-ops (returns the head) when packing would buy nothing:
    * at most one under-packed dir, no vectors, and that dir within the
    * file target. Degenerates to [[fullCompact]] when EVERY dir is
    * under-packed (nothing to carry — the full rewrite additionally
    * materializes logical names and clears the column map, which a
    * carrying pack must preserve). Under a declared same-spec
    * clustering cadence the packed tail is clustered by the spec —
    * incremental liquid clustering; carried dirs keep the layout their
    * own maintenance pass gave them. */
  private def packCompact(spark: SparkSession, root: String, writer: String,
      targetFiles: Int, maxAttempts: Int, declaredStats: Seq[String],
      effSortCols: Seq[String], effZorderCols: Seq[String],
      requested: Option[String], packBytes: Long): Commit = {
    init(spark, root)
    val f = fs(spark, root)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      repairTornTail(spark, root)
      val head = latest(spark, root).getOrElse(throw new IllegalStateException(
        s"CommitLog: compact lost the head of $root mid-flight — vacuumed?"))
      requireWritable(head)
      val effCols = if (declaredStats.nonEmpty) declaredStats else head.statsCols
      val files: Map[String, Seq[org.apache.hadoop.fs.FileStatus]] =
        head.dataDirs.map { d =>
          d -> Option(f.listStatus(new HPath(root, d))).toSeq.flatten
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .toSeq
        }.toMap
      val under = head.dataDirs.filter(d => head.dv.contains(d) ||
        files(d).map(_.getLen).sum < packBytes)
      // packing must BUY something: ≥2 dirs merge into one, a vector
      // materializes away, or an over-fragmented single dir re-packs —
      // otherwise the cadence no-ops (schedulable on quiescent tables)
      val needsWork = under.size >= 2 || under.exists(head.dv.contains) ||
        under.exists(d => files(d).size > targetFiles)
      if (!needsWork) return head
      val carried = head.dataDirs.filterNot(under.toSet)
      if (carried.isEmpty)
        return fullCompact(spark, root, writer, head, targetFiles,
          maxAttempts, effCols, effSortCols, effZorderCols, requested)
      val nextV = head.version + 1
      // visible rows of ONLY the under-packed dirs — DV-aware and
      // defaults-aware (the prunedRewrite read); staged under PHYSICAL
      // names so carried and packed dirs stay uniformly readable.
      // Output files size by BYTES (VERDICT r17 #1's "relatedly"): the
      // tail's input bytes divided by packBytes decide the file count —
      // a production pack emits ~packBytes files, never `targetFiles`
      // slivers of a tiny tail or one monolith of a huge one;
      // targetFiles stays the caller's cap.
      val tailBytes = under.iterator.map(d => files(d).map(_.getLen).sum).sum
      val outFiles = math.min(targetFiles.toLong,
        math.max(1L, (tailBytes + packBytes - 1L) / packBytes)).toInt
      val stage0 = readCommitDirs(spark, root, head, under)
      val stage =
        if (effZorderCols.nonEmpty)
          graft.operators.Layout.clusterZOrdered(stage0, effZorderCols, outFiles)
        else if (effSortCols.isEmpty) stage0.coalesce(outFiles)
        else stage0
          .repartitionByRange(outFiles, effSortCols.map(col): _*)
          .sortWithinPartitions(effSortCols.map(col): _*)
      // partition spec (r19): the packed tail splits per partition tuple
      // so the consolidated dirs keep exact partition identity (pruning
      // survives the pack cadence); an empty tail stages one empty dir
      val newDirs: Seq[(String, Seq[String])] = {
        val split =
          if (head.partitionBy.isEmpty) Nil
          else stagePartitioned(spark, root, stage, head.partitionBy,
            head.colMap, nextV)
        if (split.nonEmpty) split
        else {
          val d = s"data-${java.util.UUID.randomUUID().toString.take(8)}-v$nextV"
          toPhysical(stage, head.colMap).write
            .mode(SaveMode.Overwrite).parquet(s"$root/$d")
          Seq(d -> Nil)
        }
      }
      val headSchema = schemaOf(spark, root, head)
      // self-maintaining bloom evidence, the rewrite-verbs rule
      locally {
        val legacySb = bloomColumn(spark, root)
        bloomColumns(spark, root).foreach(bc =>
          newDirs.foreach { case (nd, _) =>
            buildSidecarAt(spark, root, nd, headSchema, head.colMap, bc,
              fpp = 0.001, sidecarPathFor(root, legacySb, bc, nd)) })
      }
      val ft = footers(spark, root, newDirs.map(_._1), effCols, head.colMap)
      val allStats = head.stats
        .filter { case (d, _) => carried.contains(d) } ++ ft.stats
      val c = Commit(nextV, carried ++ newDirs.map(_._1), writer,
        "compact", allStats,
        rowInvisible = true,
        statsCols = if (allStats.nonEmpty) effCols else Nil,
        clusterSpec = requested,
        schemaDDL = Some(carriedDDL(head, headSchema)),
        tsMs = Some(System.currentTimeMillis()),
        constraints = head.constraints,
        // carried dirs are never dv-bearing (dv ⇒ under-packed ⇒
        // rewritten), so the packed head holds no vectors for the
        // packed region and the carried region alike
        dv = head.dv.filter { case (d, _) => carried.contains(d) },
        clusterBy = head.clusterBy,
        defaults = head.defaults,
        colMap = head.colMap,
        fstats = carryFstats(head.fstats, carried) ++ ft.fstats,
        partitionBy = head.partitionBy,
        partVals = head.partVals.filter { case (d, _) =>
          carried.contains(d) } ++
          newDirs.collect { case (d, vs) if vs.nonEmpty => d -> vs },
        rows = head.rows.filter { case (d, _) =>
          carried.contains(d) } ++ ft.rows,
        dvRows = head.dvRows.filter { case (d, _) => carried.contains(d) },
        gens = head.gens)
      if (tryClaim(spark, root, nextV, encode(c))) {
        writeHeadPointer(f, root, nextV); return c
      }
      // lost the race: the under-packed set may differ under the new head
      newDirs.foreach { case (nd, _) =>
        f.delete(new HPath(s"$root/$nd"), true)
        deleteSidecars(f, root, nd)
      }
      Thread.sleep(50L * attempt)
    }
    throw new java.io.IOException(
      s"CommitLog: $writer lost $maxAttempts consecutive compact claims on $root")
  }

  /** RESTORE (the Delta RESTORE verb, r12): make the table's head the
    * content of retained version `v` — as a NEW row-visible rewrite
    * commit, so history is never rewritten: the rolled-back commits stay
    * auditable and time-travelable until vacuum, and the rollback is
    * itself one more audited commit (action="restore"). Restoring the
    * current head returns it unchanged (schedulable); a vacuumed or
    * never-committed target throws. Row-VISIBLE by necessity: rows are
    * being retracted, so incremental consumers resync — the same
    * [[appendedSince]]/[[changesSince]] contract as any rewrite. The new
    * snapshot re-records stats for the table's stats column (carried from
    * the target's record unless overridden), so data skipping survives
    * the rollback. At 100 TB: one snapshot rewrite — the copy-on-write
    * price of retraction, same as [[purge]]; production narrows it to
    * affected partitions under the same protocol. */
  def restore(spark: SparkSession, root: String, writer: String, v: Long,
      maxAttempts: Int = 20, statsCol: Option[String] = None): Commit = {
    val target = commitAt(spark, root, v).getOrElse(
      throw new IllegalArgumentException(
        s"CommitLog: cannot restore $root to version $v — vacuumed or " +
          "never committed"))
    val head = latest(spark, root)
    if (head.exists(_.version == v)) return head.get
    // the target's dirs are immutable, so this plan is stable across
    // optimistic retries — every attempt rewrites the same rows
    val snapshot = load(spark, root, target)
    commit(spark, root, writer, "restore", maxAttempts,
      statsCol = statsCol,
      statsCols = if (statsCol.isEmpty) target.statsCols else Nil)(_ => snapshot)
  }

  private def bloomDir(root: String) = new HPath(root, "_bloom")
  private def bloomPath(root: String, dir: String) =
    new HPath(bloomDir(root), dir + ".bin")
  private def bloomColPath(root: String) = new HPath(bloomDir(root), "_column")
  // MULTI-COLUMN blooms (r17): the FIRST bloom column keeps the legacy
  // flat layout (`_column` marker + `_bloom/<dir>.bin`), every further
  // column takes a one-writer-wins marker under `_columns/<col>` and
  // sidecars under `_bloom/col=<col>/<dir>.bin` — existing tables keep
  // working unchanged, and the evidence rules COMPOSE (a merge/scan may
  // now prune on several bloomed columns at once).
  private def bloomColsDir(root: String) = new HPath(bloomDir(root), "_columns")
  private def bloomColMarker(root: String, c: String) =
    new HPath(bloomColsDir(root), c)
  private def extraBloomColumns(f: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[String] =
    if (!f.exists(bloomColsDir(root))) Nil
    else Option(f.listStatus(bloomColsDir(root))).toSeq.flatten
      .map(_.getPath.getName).filterNot(_.startsWith(".tmp-")).sorted

  /** Delete every per-column sidecar of `dir` (legacy + r17 extras) —
    * lost-claim cleanup and vacuum both need the full set. */
  private def deleteSidecars(f: org.apache.hadoop.fs.FileSystem,
      root: String, dir: String): Unit = {
    f.delete(bloomPath(root, dir), false)
    extraBloomColumns(f, root).foreach(c =>
      f.delete(new HPath(bloomDir(root), s"col=$c/$dir.bin"), false))
  }

  /** Every bloom column of the table — the legacy marker's column first
    * (flat sidecar layout), then the r17 extra columns (per-column
    * subtrees), each with its own complete advisory sidecar set. */
  def bloomColumns(spark: SparkSession, root: String): Seq[String] = {
    val legacy = bloomColumn(spark, root)
    (legacy.toSeq ++ extraBloomColumns(fs(spark, root), root)).distinct
  }

  /** The sidecar path for (`colName`, `dir`) under the layout rule:
    * the legacy marker's column stays flat; extras live per-column. */
  private def sidecarPathFor(root: String, legacy: Option[String],
      colName: String, dir: String): HPath =
    if (legacy.contains(colName)) bloomPath(root, dir)
    else new HPath(bloomDir(root), s"col=$colName/$dir.bin")

  /** The table's bloom column, from the `_bloom/_column` marker (r11):
    * sidecars are raw BloomFilter bytes keyed by dir name, so the marker
    * is what records WHICH column their members came from — [[merge]]
    * refuses to prune with blooms built over a different column, and
    * [[readLatestPoint]] ignores them (full scan beats a wrong prune).
    * Absent for pre-marker tables: those keep the caller-asserted legacy
    * contract on the point-lookup path and never bloom-prune a merge. */
  def bloomColumn(spark: SparkSession, root: String): Option[String] = {
    val f = fs(spark, root)
    val p = bloomColPath(root)
    if (!f.exists(p)) None
    else {
      // exists-then-open races a concurrent sweep: absence = "no marker",
      // the same advisory degrade readCommitFile applies (ADVICE r11)
      val in = try f.open(p) catch {
        case _: java.io.FileNotFoundException => return None
      }
      try scala.util.Try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, StandardCharsets.UTF_8).trim
      }.toOption.filter(_.nonEmpty)
      finally in.close()
    }
  }

  /** Build missing BLOOM SIDECARS over `colName` for the head's data
    * directories — the POINT-lookup complement of min/max stats: range
    * stats prune nothing for a uniformly-distributed key (every dir
    * spans the full range), but a bloom answers "definitely not in this
    * dir" per exact value with no false negatives. Sidecars live in
    * `<root>/_bloom/<dir>.bin`, keyed by the immutable dir name, and are
    * ADVISORY metadata outside the commit protocol: a missing or corrupt
    * sidecar means "scan the dir" ([[readLatestPoint]]), so no commit
    * shape changes and no reader ever depends on one existing.
    * Idempotent and schedulable (the [[compact]] cadence pattern): each
    * call builds only sidecars that don't exist yet, so run it after
    * appends to keep point reads cheap. Returns the number built.
    * Supports long- and string-typed columns (the
    * `DataFrameStatFunctions.bloomFilter` contract).
    *
    * MULTIPLE bloom columns (r17): call once per column. The first
    * column claims the legacy layout; each further column registers a
    * `_columns/<col>` marker and keeps its own homogeneous sidecar
    * subtree, so merges/scans COMPOSE "definitely absent" answers
    * across every bloomed column (a composite-key merge prunes a dir
    * when ANY key component's sidecar clears it). */
  def addBloom(spark: SparkSession, root: String, colName: String,
      fpp: Double = 0.001): Int =
    latest(spark, root).map { head =>
      val f = fs(spark, root)
      f.mkdirs(bloomDir(root))
      // the FIRST bloom column claims the legacy flat layout; FURTHER
      // columns (r17 — multi-column blooms) each take a one-writer-wins
      // `_columns/<col>` marker and their own per-column sidecar
      // subtree, so every column's sidecar set stays homogeneous (the
      // r11 rule, now per column instead of per table)
      requireTag(colName, "bloom column")
      bloomColumn(spark, root) match {
        case Some(existing) =>
          if (existing != colName &&
              !extraBloomColumns(f, root).contains(colName)) {
            f.mkdirs(bloomColsDir(root))
            // losing the claim is fine — the marker then exists with
            // exactly this name either way (names ARE the content)
            atomicCreate(f, bloomColMarker(root, colName),
              colName.getBytes(StandardCharsets.UTF_8))
            ()
          }
        case None =>
          // atomic create-exclusive: two concurrent addBloom calls with
          // different columns must not interleave check-then-overwrite
          // (sidecars built over A under a marker saying B would enable
          // a WRONG merge prune) — exactly one claims, the loser verifies
          var claimed = atomicCreate(f, bloomColPath(root),
            colName.getBytes(StandardCharsets.UTF_8))
          if (!claimed && bloomColumn(spark, root).isEmpty) {
            // the marker exists but carries no column: a writer crashed
            // in the HDFS create→write→close window (a torn marker must
            // not brick the table forever). Repair ONLY once it is old
            // enough that no live claimant can still be mid-write —
            // the repairTornTail grace pattern.
            val age = try {
              System.currentTimeMillis() -
                f.getFileStatus(bloomColPath(root)).getModificationTime
            } catch { case _: java.io.FileNotFoundException => Long.MaxValue }
            if (age > 10000L) {
              f.delete(bloomColPath(root), false)
              claimed = atomicCreate(f, bloomColPath(root),
                colName.getBytes(StandardCharsets.UTF_8))
            }
          }
          if (!claimed) {
            val winner = bloomColumn(spark, root)
            // losing the legacy claim to a DIFFERENT column is not a
            // conflict since r17's multi-column blooms (ADVICE r17): fall
            // through to the extra-column registration the same call
            // would have taken had the winner's marker existed up front.
            // Only a still-torn marker (no readable winner) refuses — a
            // retry after the grace window repairs or resolves it.
            if (winner.isEmpty) throw new IllegalStateException(
              s"bloom column '$colName': the table's bloom marker is torn " +
                "and still within its repair grace — retry")
            if (!winner.contains(colName)) {
              f.mkdirs(bloomColsDir(root))
              atomicCreate(f, bloomColMarker(root, colName),
                colName.getBytes(StandardCharsets.UTF_8))
              ()
            }
          }
      }
      val legacy = bloomColumn(spark, root)
      val headSchema = schemaOf(spark, root, head)
      // a dir written before the column existed reads its recorded
      // DEFAULT, which its stored bytes cannot show — it gets no sidecar
      // (always scanned)
      head.dataDirs.count { d =>
        val p = sidecarPathFor(root, legacy, colName, d)
        !f.exists(p) && !defaultsFor(head, d).exists(_._1 == colName) && {
          buildSidecarAt(spark, root, d, headSchema, head.colMap, colName,
            fpp, p)
          true
        }
      }
    }.getOrElse(0)

  /** Build dir `d`'s sidecar over logical column `colName` of `schema`
    * (stored under its PHYSICAL name through `colMap`) at `p`: one scan
    * of that one column under its recorded type, sized by the footer row
    * count. */
  private def buildSidecarAt(spark: SparkSession, root: String, d: String,
      schema: StructType, colMap: Map[String, String], colName: String,
      fpp: Double, p: HPath): Unit = {
    val f = fs(spark, root)
    val phys = colMap.getOrElse(colName, colName)
    val field = physicalSchema(schema, colMap).find(_.name == phys)
    require(field.isDefined,
      s"bloom column '$colName' not in ${schema.simpleString}")
    val n = footers(spark, root, Seq(d), Nil).rows(d)
    // empty dir: the bloom aggregation yields a null buffer (NPE on
    // readFrom), and a no-evidence empty dir scans for free anyway
    if (n == 0) return
    val bf = spark.read.schema(StructType(field.toSeq)).parquet(s"$root/$d")
      .stat.bloomFilter(phys, n, fpp)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try bf.writeTo(out) finally out.close()
  }

  /** POINT-lookup read: the head filtered to `colName = value`, scanning
    * only directories whose bloom sidecar might contain the value (no
    * sidecar, or one that fails to parse ⇒ scan — skipping degrades,
    * correctness doesn't; bloom false-positives just scan a dir the
    * row-level filter then empties). Equals filter-after-readLatest by
    * construction. At 100 TB: an exact-key probe of a long append
    * history reads O(dirs that might hold the key) — for a key present
    * once, that is ~1 dir + fpp·history false positives — instead of
    * every dir, the lookup shape min/max stats cannot serve. */
  def readLatestPoint(spark: SparkSession, root: String, colName: String,
      value: Any): Option[DataFrame] =
    latest(spark, root).map { c =>
      val keep =
        bloomKeepDirs(spark, root, c, colName, Seq(value), requireMarker = false)
      val dirs = if (keep.nonEmpty) keep else c.dataDirs.take(1)
      readCommitDirs(spark, root, c, dirs)
        .filter(col(colName) === org.apache.spark.sql.functions.lit(value))
    }

  /** The dir's bloom sidecar, if present and parseable. Missing, swept
    * between exists and open (ADVICE r11), or corrupt all read as None —
    * sidecars are advisory, absence means "scan the dir". */
  private[sources] def readSidecar(spark: SparkSession, root: String,
      dir: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    readSidecarAt(fs(spark, root), bloomPath(root, dir))

  private def readSidecarAt(f: org.apache.hadoop.fs.FileSystem,
      p: HPath): Option[org.apache.spark.util.sketch.BloomFilter] = {
    if (!f.exists(p)) None
    else {
      val in = try f.open(p) catch {
        case _: java.io.FileNotFoundException => return None
      }
      try scala.util.Try(
        org.apache.spark.util.sketch.BloomFilter.readFrom(in)).toOption
      finally in.close()
    }
  }

  /** The dirs of `c` that might contain ANY of `values` in `colName` —
    * [[readLatestPoint]]'s planning decision generalized to a value set,
    * shared with the `graft.commitlog` connector (r12). A dir is kept
    * unless its sidecar proves every value absent; marker mismatch (the
    * sidecars describe a DIFFERENT column) disables pruning entirely —
    * "definitely absent" answers about the wrong values must not skip a
    * dir. `requireMarker = true` (the connector: values are derived from
    * pushed filters) also refuses to prune marker-less pre-r11 tables;
    * `false` keeps the library route's caller-asserted legacy contract. */
  private[graft] def bloomKeepDirs(spark: SparkSession, root: String,
      c: Commit, colName: String, values: Seq[Any],
      requireMarker: Boolean): Seq[String] = {
    val f = fs(spark, root)
    val legacy = bloomColumn(spark, root)
    val registered = legacy.contains(colName) ||
      extraBloomColumns(f, root).contains(colName)
    // usable iff the column is REGISTERED (legacy marker or an r17
    // `_columns/<col>` marker — the sidecars then describe exactly this
    // column's members); the marker-less pre-r11 table keeps the
    // caller-asserted legacy contract on the library route only
    val usable =
      if (requireMarker) registered
      else registered || (legacy.isEmpty && extraBloomColumns(f, root).isEmpty)
    if (!usable || values.isEmpty) c.dataDirs
    else c.dataDirs.filter { d =>
      // a marker-less pre-r11 table's caller-asserted sidecars live in
      // the flat legacy layout — registered columns resolve by the rule
      val p =
        if (registered) sidecarPathFor(root, legacy, colName, d)
        else bloomPath(root, d)
      readSidecarAt(f, p).forall(bf =>
        scala.util.Try(values.exists(bf.mightContain)).getOrElse(true))
    }
  }

  /** PURGE (retention enforcement / right-to-be-forgotten): commit a head
    * WITHOUT the rows matching `pred`, then drop ALL retained history, so
    * no API path — readLatest, readVersion, appendedSince — can reach a
    * purged row again. The rewrite rides the [[prunedRewrite]] loop
    * (action="purge", row-VISIBLE: downstream consumers must resync,
    * because rows they already received are being retracted — silently
    * skipping a retraction would be the bug). NULL-evaluating rows are
    * KEPT (r13 — "matching pred" means pred is TRUE, the SQL rule; the
    * earlier `filter(!pred)` silently over-purged rows where the
    * predicate evaluated NULL). The logical purge is
    * IMMEDIATE: vacuum(keep=1) deletes old commit files synchronously, so
    * dropped versions stop resolving the moment this returns; the retired
    * data DIRECTORIES linger up to `graceMs` (the same window that
    * protects in-flight appenders' stagings) and are swept by this or any
    * later vacuum — call again with graceMs=0 once writers are quiesced
    * if physical deletion must also be synchronous.
    *
    * Scale (r13): the rewrite is DIR-PRUNED by the shared evidence
    * decision — directories whose recorded stats/bloom prove no matching
    * row carry into the purge commit untouched (they hold nothing to
    * forget), so purging a keyed or time-ranged slice of a clustered
    * 100 TB history rewrites the matching dirs, never the table; the
    * recorded stats column set survives (the pre-r13 path recorded no
    * stats on the purged head, silently disabling skipping). Returns
    * None on an empty table. */
  def purge(spark: SparkSession, root: String, writer: String,
      graceMs: Long = 600000L)(
      pred: org.apache.spark.sql.Column): Option[Commit] =
    latest(spark, root).map { _ =>
      val c = prunedRewrite(spark, root, writer, "purge", pred,
        incoming = None, declared = Nil, maxAttempts = 20)
      vacuum(spark, root, keep = 1, graceMs)
      c
    }

  /** MERGE (the Delta `MERGE INTO` shape): apply a keyed changeset to the
    * table in ONE serializable commit — a change row whose key exists
    * REPLACES the stored row (update), a new key INSERTS, and a row whose
    * `deleteCol` flag is true DELETES its key (no-op for absent keys).
    * `changes` must carry the head's schema (plus the optional flag
    * column) and — by default — exactly one row per key; keys must be
    * non-null (null never equi-matches — a null-keyed "update" would
    * silently insert). [[mergeOn]]'s `multiInsertKeys` opt-in relaxes
    * the one-row rule to SQL multi-insert semantics for all-non-delete
    * duplicates (r15, ADVICE r14); a multi-row key carrying a delete
    * flag refuses loudly either way.
    *
    * COPY-ON-WRITE with DIRECTORY PRUNING — the scale story: only
    * directories that MIGHT contain a merge key are rewritten; every
    * other directory is carried into the new commit untouched
    * (byte-identical files, stats preserved). "Might contain" is proven
    * per dir, strongest evidence first:
    *  - its bloom sidecar (when the `_bloom/_column` marker names
    *    `keyCol` and the changeset's distinct keys fit `maxProbeKeys`):
    *    every key definitely absent ⇒ prune — exact per-key evidence
    *    with no false negatives, the [[readLatestPoint]] machinery;
    *  - else its recorded [min, max] stats (when the commit's
    *    `statsColName` is `keyCol`): key range disjoint ⇒ prune;
    *  - else the dir is rewritten (no evidence, no risk).
    * A dir wrongly pruned would strand a stale row under a merged key —
    * which is why pruning only ever uses evidence RECORDED for `keyCol`,
    * never a caller assertion. When NO dir might contain a key, the merge
    * degrades to a pure O(delta) insert append (prior dirs re-referenced,
    * deletes of absent keys no-op) — and to a no-op returning the head
    * when there is nothing to insert either.
    *
    * MERGE-ON-READ (r17 — VERDICT r16 #1, the [[delete]]/[[update]] DV
    * economics applied to the merge verb): when the matched fraction of
    * the affected dirs' visible rows is ≤ `dvMaxFraction`, the stored
    * pre-image rows are DV-DELETED in place (one tiny folded `_dv`
    * dataset) and the changeset's rows land as ONE appended dir — a
    * k-key CDC upsert cadence writes O(changeset) bytes instead of ~k
    * copy-on-write dir rewrites, the most common production write at
    * 100 TB. Readers anti-join the vector; [[compact]] materializes it
    * away; the CDF carries the same pre/post-image rows either way. The
    * decision costs one counting scan of the affected dirs' visible
    * rows (warm for the CoW fallback, which re-reads them);
    * `dvMaxFraction = 0` forces copy-on-write and skips it. A matched
    * count of ZERO (evidence false-positive) now degrades to the pure
    * O(delta) insert append instead of a pointless rewrite.
    *
    * At 100 TB: a changeset touching k of N sorted/bloomed directories
    * costs O(changeset) writes under the threshold (k dir rewrites past
    * it), never a table rewrite — run [[compact]] with `sortCols=keyCol`
    * and [[addBloom]] on a cadence
    * and k tracks the changeset's true key locality. A merge on a
    * bloomed key column SELF-blooms its output dir (one extra scan of
    * the dir it just wrote), so successive merges keep pruning each
    * other's output without waiting on the cadence — only appended
    * dirs rely on it. The commit is
    * row-VISIBLE (it retracts/replaces rows), so incremental consumers
    * resync — except the pure-insert path, which commits append-shaped
    * and flows through [[appendedSince]] like any append.
    *
    * Concurrency: the ordinary optimistic loop — pruning and the rebuild
    * re-run against the fresh head after every lost claim, so a racing
    * append landing a merge key between attempts is re-pruned, never
    * missed. Returns the winning commit (or the unchanged head for a
    * no-op). */
  def merge(spark: SparkSession, root: String, writer: String, keyCol: String,
      changes: DataFrame, deleteCol: Option[String] = None,
      statsCol: Option[String] = None, maxAttempts: Int = 20,
      maxProbeKeys: Int = 10000, dvMaxFraction: Double = 0.2): Commit =
    mergeOn(spark, root, writer, Seq(keyCol), changes, deleteCol, statsCol,
      maxAttempts, maxProbeKeys, dvMaxFraction = dvMaxFraction)

  /** [[merge]] keyed by a column LIST (r15 — VERDICT r14 #2, the
    * (id, date)-style compound key real tables merge on): a change row's
    * key is the TUPLE of `keyCols` values. Everything in [[merge]]'s
    * contract holds per tuple, and the pruning evidence COMPOSES: a
    * directory is rewritten only when, for EVERY key column with
    * recorded evidence (its bloom sidecar, its per-column [min, max]
    * stats), that column's changeset values might be present — one
    * provably-absent component prunes the dir, so multi-column keys
    * prune at least as well as their strongest single column.
    *
    * Key-tuple cardinality (r15, ADVICE r14 + code review): by DEFAULT
    * one row per tuple, refused loudly otherwise — the r14 contract,
    * protecting a non-deaggregated upsert changeset from silent row
    * multiplication. With `multiInsertKeys = true` (the SQL MERGE
    * route's explicit opt-in), a tuple appearing on MULTIPLE change
    * rows is allowed when every one of its rows is a non-delete: the
    * key's stored rows (if any) are replaced by ALL its changeset rows
    * — SQL MERGE's multi-insert semantics (several NOT MATCHED source
    * rows for one key each insert). A multi-row tuple carrying a delete
    * flag is ambiguous (delete, or replace, or both?) and refuses
    * loudly under either setting. */
  def mergeOn(spark: SparkSession, root: String, writer: String,
      keyCols: Seq[String], changes: DataFrame,
      deleteCol: Option[String] = None, statsCol: Option[String] = None,
      maxAttempts: Int = 20, maxProbeKeys: Int = 10000,
      multiInsertKeys: Boolean = false,
      evolveTo: Seq[org.apache.spark.sql.types.StructField] = Nil,
      dvMaxFraction: Double = 0.2): Commit = {
    requireTag(writer, "writer")
    statsCol.foreach(sc => requireTag(sc, "statsCol"))
    require(keyCols.nonEmpty, "mergeOn needs at least one key column")
    require(keyCols.distinct == keyCols,
      s"duplicate key columns in ${keyCols.mkString("(", ", ", ")")}")
    deleteCol.foreach(dc => require(changes.columns.contains(dc),
      s"deleteCol '$dc' not in changes schema ${changes.schema.simpleString}"))
    keyCols.foreach(k => require(changes.columns.contains(k),
      s"keyCol '$k' not in changes schema ${changes.schema.simpleString}"))
    // materialize the changeset ONCE (ADVICE r11): validation, pruning
    // metadata, each claim attempt's staged rewrite, and the CDF pre-image
    // join all re-evaluate the plan — a non-deterministic changeset
    // (rand(), a re-read mutable source) could pass the key-cardinality
    // validation yet stage DIFFERENT rows, silently corrupting the
    // committed state and its feed. localCheckpoint pins the rows; every
    // downstream evaluation reads the materialized blocks.
    evolveTo.foreach(f => require(f.nullable,
      s"merge evolution adds NULLABLE columns only, got ${f.toDDL}"))
    val pinned = changes.localCheckpoint(true)
    try mergePinned(spark, root, writer, keyCols, pinned, deleteCol, statsCol,
      maxAttempts, maxProbeKeys, multiInsertKeys, evolveTo, dvMaxFraction)
    finally pinned.unpersist()
  }

  /** [[mergeOn]] body over the checkpoint-pinned changeset. `evolveTo`
    * (r16 — VERDICT r15 #4) is a STAGED additive widening the merge
    * folds into its ONE row-visible commit: the target schema becomes
    * head ++ evolveTo (columns a concurrent commit already landed drop
    * out, same-name/different-type collides loudly), carried dirs read
    * the new columns as typed NULL through the recorded schema, and no
    * separate evolve commit ever exists — the Delta single-transaction
    * MERGE WITH SCHEMA EVOLUTION shape. */
  private def mergePinned(spark: SparkSession, root: String, writer: String,
      keyCols: Seq[String], changes: DataFrame, deleteCol: Option[String],
      statsCol: Option[String], maxAttempts: Int,
      maxProbeKeys: Int, multiInsertKeys: Boolean,
      evolveTo: Seq[org.apache.spark.sql.types.StructField] = Nil,
      dvMaxFraction: Double = 0.2): Commit = {
    init(spark, root)
    val f = fs(spark, root)
    val delFlag = deleteCol.map(col).getOrElse(lit(false))

    // changeset invariants + pruning metadata, computed ONCE (the
    // changeset is attempt-invariant): non-null key tuples with the
    // cardinality rule below, each column's key range for stats pruning
    // (usable only when EVERY value casts to long — a partial cast would
    // shrink the range and wrongly prune), and the collected per-column
    // keys for bloom probing when they fit the driver budget
    val anyKeyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    val flagNull = deleteCol.map(dc => col(dc).isNull).getOrElse(lit(false))
    val keyTuple = org.apache.spark.sql.functions.struct(keyCols.map(col): _*)
    val chTypes = changes.schema.map(f => f.name -> f.dataType).toMap
    val aggCols: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1)).as("n"),
        count(when(anyKeyNull, 1)).as("nulls"),
        org.apache.spark.sql.functions.count_distinct(keyTuple).as("keys"),
        count(when(flagNull, 1)).as("flagnulls")) ++
        keyCols.flatMap { k =>
          // the typed stat domain (r17): string/date/timestamp key
          // columns now contribute range evidence through the same
          // encoding the write side records, so string-keyed merges
          // stats-prune too. Remaining types keep try_cast, not cast:
          // an unconvertible key column simply yields NO range evidence
          // — under ANSI mode a plain cast would throw out of the merge
          val kc = col(k)
          val dom = chTypes.get(k) match {
            case t @ Some(org.apache.spark.sql.types.StringType |
                org.apache.spark.sql.types.DateType |
                org.apache.spark.sql.types.TimestampType |
                org.apache.spark.sql.types.TimestampNTZType) =>
              statDomain(kc, t)
            case _ => kc.try_cast("long")
          }
          Seq(min(dom).as(s"min_$k"),
            max(dom).as(s"max_$k"),
            count(when(kc.isNotNull && dom.isNull, 1))
              .as(s"uncast_$k"))
        }
    val kstats = changes.agg(aggCols.head, aggCols.tail: _*).head()
    val (nRows, nNullKeys, nKeys) =
      (kstats.getLong(0), kstats.getLong(1), kstats.getLong(2))
    require(nNullKeys == 0,
      s"merge keys (${keyCols.mkString("'", "', '", "'")}) must be non-null")
    // a NULL flag would silently act as a delete (filter(!flag) drops the
    // row from the inserts while its key is still anti-joined away) —
    // reject it at the edge like null keys
    require(kstats.getLong(3) == 0,
      s"merge delete flags ('${deleteCol.getOrElse("")}') must be non-null")
    // key-tuple cardinality (r15, ADVICE r14 + code review): duplicates
    // refuse by default (the r14 contract — a non-deaggregated upsert
    // must fail loudly, never multiply rows); under the multiInsertKeys
    // opt-in, all-non-delete duplicates are the SQL multi-insert shape
    // and a tuple mixing a delete flag with any other row still refuses.
    // The group pass runs only when duplicates exist at all — the common
    // one-row-per-key changeset pays the one agg above, nothing more.
    if (nRows != nKeys) {
      if (!multiInsertKeys) throw new IllegalArgumentException(
        s"merge changes must hold one row per " +
          s"${keyCols.mkString("(", ", ", ")")}: $nRows rows over " +
          s"$nKeys distinct keys — pre-aggregate the changeset " +
          "(q_upsert_latest), or opt into SQL multi-insert semantics " +
          "with multiInsertKeys = true")
      val delInt = delFlag.cast("int")
      val bad = changes.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n"), max(delInt).as("__d"))
        .filter(col("__n") > 1 && col("__d") === 1)
        .limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"merge changes hold multiple rows for key " +
          s"${keyCols.zipWithIndex.map { case (k, i) => s"$k=${bad.head.get(i)}" }
            .mkString("(", ", ", ")")} including a delete flag — a " +
          "multi-row key must be all-insert (the SQL multi-insert shape); " +
          "pre-aggregate the changeset otherwise (q_upsert_latest)")
    }
    // an empty changeset changes nothing: answer from the log, never
    // rewrite (with no pruning evidence every dir would count as
    // affected and a 0-key merge would rewrite the whole table)
    if (nRows == 0)
      return latest(spark, root).getOrElse(throw new IllegalStateException(
        "merge of an empty changeset into an empty table — nothing to commit"))
    val keysRange: Map[String, (Long, Long)] = keyCols.flatMap { k =>
      if (kstats.getLong(kstats.fieldIndex(s"uncast_$k")) == 0 &&
          !kstats.isNullAt(kstats.fieldIndex(s"min_$k")))
        Some(k -> (kstats.getLong(kstats.fieldIndex(s"min_$k")),
          kstats.getLong(kstats.fieldIndex(s"max_$k"))))
      else None
    }.toMap
    // per-column distinct values for bloom probing: each column's
    // distinct count is bounded by the tuple count (every value appears
    // in some tuple), so the nKeys budget bounds every collect here
    val probeKeys: Option[Map[String, Array[Any]]] =
      if (nKeys <= maxProbeKeys)
        Some(keyCols.map(k =>
          k -> changes.select(col(k)).distinct().collect().map(_.get(0))).toMap)
      else None
    val hasInserts = changes.filter(!delFlag).limit(1).count() > 0

    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      repairTornTail(spark, root)
      val cur = latest(spark, root)
      cur.foreach(requireWritable)
      val (dirs, stage, effStatsCols, cdf, ddl, mintedMap,
        dvPlan) = cur match {
        case None =>
          // empty table: the merge is a create of the inserts
          if (!hasInserts)
            throw new IllegalStateException(
              "merge into an empty table with no inserts — nothing to commit")
          val payload = changes.filter(!delFlag)
            .select(changes.columns.filterNot(deleteCol.contains).map(col): _*)
          (Nil, payload, statsCol.toSeq, None, recordedDDL(payload.schema),
            Map.empty[String, String], None)
        case Some(head) =>
          val baseSchema = schemaOf(spark, root, head)
          // fold a staged evolution (r16): columns a concurrent commit
          // already landed drop out; a same-name/different-type head
          // column is a real conflict — loud, never a silent retype
          val pendingEff = evolveTo.filterNot { f =>
            baseSchema.find(_.name.equalsIgnoreCase(f.name)) match {
              case Some(hf) =>
                require(hf.dataType == f.dataType,
                  s"merge evolution column '${f.name}' (${f.dataType}) " +
                    s"collides with head column of type ${hf.dataType}")
                true
              case None => false
            }
          }
          val headSchema = org.apache.spark.sql.types.StructType(
            baseSchema.fields ++ pendingEff)
          // a FOLDED evolution records the widened schema in the
          // one merge commit, so carried dirs read the new columns as
          // typed NULL and no separate evolve commit exists
          val ddl =
            if (pendingEff.isEmpty) carriedDDL(head, baseSchema)
            else recordedDDL(headSchema)
          // under an ACTIVE column mapping, folded-evolution columns
          // mint fresh physicals (r16 code review: re-adding a DROPPED
          // logical name must never resurrect its old physical bytes)
          val minted: Map[String, String] =
            if (head.colMap.isEmpty) Map.empty
            else pendingEff.map(f => f.name ->
              s"col-${java.util.UUID.randomUUID().toString.take(8)}").toMap
          keyCols.foreach(k => require(headSchema.fieldNames.contains(k),
            s"keyCol '$k' not in head schema ${headSchema.simpleString}"))
          val payloadFields = changes.schema.filterNot(sf =>
            deleteCol.contains(sf.name))
          val same = headSchema.length == payloadFields.length &&
            headSchema.forall(hf => payloadFields.exists(pf =>
              pf.name == hf.name && sameTypeLoose(pf.dataType, hf.dataType)))
          require(same,
            s"merge schema mismatch vs head v${head.version}: head " +
              s"${headSchema.simpleString} vs changes (minus deleteCol) " +
              payloadFields.map(_.toDDL).mkString("[", ", ", "]"))
          if (statsCol.nonEmpty && head.statsCols.nonEmpty)
            require(statsCol.toSeq.toSet == head.statsCols.toSet,
              s"statsCol '${statsCol.get}' conflicts with the table's " +
                s"recorded stats columns " +
                s"${head.statsCols.mkString("[", ",", "]")} — one stats " +
                "column set per table")
          val eff = if (statsCol.nonEmpty) statsCol.toSeq else head.statsCols
          val inserts = changes.filter(!delFlag)
            .select(headSchema.fieldNames.map(col): _*)
          // CHECK constraints gate the changeset's landing rows BEFORE
          // any staging (r14); stored rows the merge keeps satisfy by
          // induction (they passed when written), deletes land nothing.
          // GENERATED columns validate on the same landing surface (r19).
          enforceConstraints(inserts, head.constraints)
          enforceGenerated(inserts, head.gens)
          // COMPOSED evidence (r15): a dir might contain a matching row
          // only if EVERY key column's evidence allows it — one column
          // provably absent prunes the dir (a tuple match needs all
          // components present). Bloom evidence exists for at most one
          // column (the table's `_bloom/_column` marker); stats per
          // recorded column.
          // multi-column blooms (r17): EVERY registered bloom column
          // among the merge keys contributes point evidence — composite
          // keys now prune on each bloomed component, not just one
          val legacyBloom = bloomColumn(spark, root)
          val bloomKeyCols = bloomColumns(spark, root).toSet
            .intersect(keyCols.toSet)
          def mightContain(d: String): Boolean = keyCols.forall { k =>
            // missing/swept/corrupt sidecar ⇒ no bloom evidence for this
            // dir (fall through to stats/rewrite), never an exception out
            // of merge (ADVICE r11; readSidecar owns the degrade)
            val byBloom: Option[Boolean] =
              if (!bloomKeyCols.contains(k) || probeKeys.isEmpty) None
              else readSidecarAt(fs(spark, root),
                sidecarPathFor(root, legacyBloom, k, d)).flatMap(bf =>
                scala.util.Try(
                  probeKeys.get.apply(k).exists(bf.mightContain)).toOption)
            byBloom.getOrElse {
              !head.statsCols.contains(k) ||
                head.stats.get(d).flatMap(_.get(k)).forall {
                  case (lo, hi) => keysRange.get(k).forall {
                    case (kLo, kHi) => hi >= kLo && lo <= kHi }
                }
            }
          }
          val affected = head.dataDirs.filter(mightContain)
          if (affected.isEmpty) {
            // proven: no stored row carries a merge key — deletes no-op
            // and the merge is a pure insert (append shape, O(delta));
            // no CDF file: [[changesSince]] synthesizes the inserts from
            // the committed delta dir itself
            if (!hasInserts && pendingEff.isEmpty) return head // full no-op
            (head.dataDirs, inserts, eff, None,
              ddl,
              minted, None)
          } else {
            // affected dirs read DV-aware WITH (file, position) identity
            // retained (r17 — VERDICT r16 #1): the positions feed the
            // merge-on-read decision and, under the threshold, the new
            // deletion vector. A folded evolution's new columns read as
            // typed NULL for the kept stored rows.
            val old = pendingEff.foldLeft(
              visibleWithPos(spark, root, head, affected))((df, f) =>
              df.withColumn(f.name, lit(null).cast(f.dataType)))
            // CDF record, algebraically complete (the Delta change-type
            // vocabulary): pre-images are the STORED rows being replaced
            // or deleted (all of them — a key stored N times yields N
            // negative rows), post-images the changeset's new rows,
            // split insert-vs-update by whether the key was present. A
            // consumer can therefore maintain sums/counts downstream:
            // every change row carries sign +1 (insert/update_postimage)
            // or −1 (update_preimage/delete). Costs one extra
            // changeset-bounded pass over the affected dirs.
            val headCols = headSchema.fieldNames.map(col)
            // ONE pass over the affected dirs harvests every pre-image
            // with its delete flag AND its (file, pos) identity; the
            // result is changeset-bounded (stored copies of changeset
            // keys), so it is materialized via localCheckpoint and every
            // derived frame — typed pre-images, the present-key set, the
            // insert/update split, the staged vector — reads the tiny
            // checkpoint instead of re-scanning the dirs
            // distinct: a multi-insert key holds several changeset rows
            // with the same (keys, false) flag — the pre-image join must
            // see each stored row ONCE, not once per insert copy
            val keyFlags = changes
              .select(keyCols.map(col) :+ delFlag.as("__del"): _*).distinct()
            val preT = old
              .join(broadcastIf(probeKeys.isDefined, keyFlags),
                keyCols, "inner")
              .select(headCols ++
                Seq(col("__del"), col(DvPathCol), col(DvPosCol)): _*)
              .localCheckpoint(true)
            val matched = preT.count() // free: reads the pinned blocks
            if (matched == 0) {
              // evidence false-positive: NO stored row actually carries
              // a merge key. Deletes no-op; the merge degrades to the
              // pure O(delta) insert append (pre-r17: a pointless
              // rewrite of the affected dirs)
              preT.unpersist()
              if (!hasInserts && pendingEff.isEmpty) return head
              (head.dataDirs, inserts, eff, None,
                ddl,
                minted, None)
            } else {
            val preTyped = preT.select(headCols :+
              when(col("__del"), lit("delete"))
                .otherwise(lit("update_preimage")).as("_change_type"): _*)
            val preKeys = preT.select(keyCols.map(col): _*).distinct()
              .withColumn("__present", lit(true))
            val post = inserts
              .join(broadcastIf(probeKeys.isDefined, preKeys),
                keyCols, "left")
              .withColumn("_change_type",
                when(col("__present"), lit("update_postimage"))
                  .otherwise(lit("insert")))
              .select(headCols :+ col("_change_type"): _*)
            // MERGE-ON-READ vs COPY-ON-WRITE (r17 — VERDICT r16 #1, the
            // deleteViaDv/updateViaDv economics applied to the merge
            // verb): when the matched fraction of the affected dirs'
            // visible rows is under the threshold, the stored pre-image
            // rows are DV-DELETED in place and the changeset's rows land
            // as ONE O(changeset) appended dir — a k-key CDC upsert
            // writes ~changeset bytes instead of ~k dir rewrites, the
            // 100 TB cadence shape. The decision's price is one counting
            // scan of the affected dirs' visible rows; the CoW fallback
            // re-reads the same (now warm) dirs. dvMaxFraction = 0
            // forces copy-on-write and skips the count.
            val dvChosen = dvMaxFraction > 0 &&
              matched <= dvMaxFraction * old.count()
            if (dvChosen) {
              val newPos = preT.select(relPath(col(DvPathCol)).as("path"),
                col(DvPosCol).as("pos"))
              val touched = preT
                .select(dirOfPath(col(DvPathCol)).as("__d"))
                .distinct().collect().map(_.getString(0)).toSeq
              (head.dataDirs, inserts, eff,
                Some((preTyped.union(post), preT)),
                ddl,
                minted, Some((newPos, touched)))
            } else {
              val keys = changes.select(keyCols.map(col): _*).distinct()
              val keyed = if (probeKeys.isDefined) broadcast(keys) else keys
              val rebuilt = old.join(keyed, keyCols, "left_anti")
                .select(headSchema.fieldNames.map(col): _*)
                .union(inserts)
              (head.dataDirs.filterNot(affected.contains), rebuilt, eff,
                Some((preTyped.union(post), preT)),
                ddl,
                minted, None)
            }
            }
          }
      }
      val nextV = cur.map(_.version).getOrElse(0L) + 1
      val newDir = s"data-${java.util.UUID.randomUUID().toString.take(8)}-v$nextV"
      val attemptMap = cur.map(_.colMap).getOrElse(Map.empty) ++ mintedMap
      // a merge-on-read changeset with NO inserts is pure retraction (the
      // [[deleteViaDv]] shape): it adds no data dir — staging an empty
      // one would only leave a spurious file — and its feed keys by the
      // new vector instead (changesSince already resolves both shapes)
      val stageData = dvPlan.isEmpty || hasInserts
      if (stageData) toPhysical(stage, attemptMap).write
        .mode(SaveMode.Overwrite).parquet(s"$root/$newDir")
      // merge-on-read (r17): stage the folded deletion vector BEFORE the
      // claim, like the data dir — a crash leaves one more orphan for
      // vacuum, never a half-visible commit
      val dvName = s"dv-${java.util.UUID.randomUUID().toString.take(8)}-v$nextV"
      dvPlan.foreach { case (newPos, touched) =>
        val allDv = foldVectors(spark, root, cur.get, touched, newPos)
        f.mkdirs(dvDir(root))
        allDv.write.mode(SaveMode.Overwrite)
          .parquet(dvPath(root, dvName).toString)
      }
      // change feed written BEFORE the claim, keyed by the new dir name
      // (unique to this attempt; the new vector's name for a no-dir DV
      // merge): any reader that can see the merge commit can see its
      // feed — there is no claim-to-feed window forcing a spurious
      // resync; a crash here leaves only a staged dir + feed orphan
      // pair for vacuum
      val feedKey = if (stageData) newDir else dvName
      cdf.foreach { case (typed, _) =>
        f.mkdirs(changesDir(root))
        typed.write.mode(SaveMode.Overwrite)
          .parquet(changesPath(root, feedKey).toString)
      }
      // SELF-MAINTAINING evidence (r11 close): when the table blooms this
      // key column, the merge gives its own output dir a sidecar
      // immediately — one extra scan of the (affected-sized) dir it just
      // wrote. Without this, every post-merge dir is evidence-less until
      // the addBloom cadence runs, and successive merges re-rewrite
      // their predecessors' output (SCALE.md measured the escalation).
      // Appends stay lean by contrast (cadence-bloomed): an append is
      // the hot path and must cost O(delta) writes only.
      if (stageData) {
        val legacySb = bloomColumn(spark, root)
        bloomColumns(spark, root).filter(keyCols.contains)
          .foreach(k => buildSidecarAt(spark, root, newDir,
            StructType.fromDDL(ddl), attemptMap, k, fpp = 0.001,
            sidecarPathFor(root, legacySb, k, newDir)))
      }
      val ft = footers(spark, root, if (stageData) Seq(newDir) else Nil,
        effStatsCols, attemptMap)
      val carried = cur.map(_.stats).getOrElse(Map.empty)
        .filter { case (d, _) => dirs.contains(d) }
      val allStats = carried ++ ft.stats
      val commitDirs = if (stageData) dirs :+ newDir else dirs
      val c = Commit(nextV, commitDirs, writer, "merge", allStats,
        statsCols = if (allStats.nonEmpty) effStatsCols else Nil,
        schemaDDL = Some(ddl),
        tsMs = Some(System.currentTimeMillis()),
        constraints = cur.map(_.constraints).getOrElse(Nil),
        // carried dirs keep their deletion vectors; rewritten dirs'
        // vectors are MATERIALIZED by the DV-aware affected read above;
        // under merge-on-read (r17) every touched dir repoints at the
        // ONE new folded vector instead
        dv = {
          val kept = cur.map(_.dv).getOrElse(Map.empty)
            .filter { case (d, _) => dirs.contains(d) }
          dvPlan match {
            case Some((_, touched)) =>
              (kept -- touched) ++ touched.map(_ -> dvName)
            case None => kept
          }
        },
        clusterBy = cur.flatMap(_.clusterBy),
        defaults = cur.map(_.defaults).getOrElse(Nil),
        colMap = attemptMap,
        fstats = carryFstats(cur.map(_.fstats).getOrElse(Map.empty), dirs) ++
          ft.fstats,
        partitionBy = cur.map(_.partitionBy).getOrElse(Nil),
        // the merged output dir carries no partition identity (kept by
        // every partition filter — conservative); carried dirs ride
        partVals = cur.map(_.partVals).getOrElse(Map.empty)
          .filter { case (d, _) => dirs.contains(d) },
        rows = cur.map(_.rows).getOrElse(Map.empty)
          .filter { case (d, _) => dirs.contains(d) } ++ ft.rows,
        // touched dirs' vectored share changed without a per-dir count
        // in hand — drop their entries (their statistics degrade to the
        // size estimate, never to a wrong exact count)
        dvRows = cur.map(_.dvRows).getOrElse(Map.empty)
          .filter { case (d, _) => dirs.contains(d) } --
          dvPlan.map(_._2).getOrElse(Nil),
        gens = cur.map(_.gens).getOrElse(Nil))
      // release the pre-image checkpoint whether the claim wins, loses,
      // or THROWS (a transient store error must not leak the blocks) —
      // each attempt materializes its own
      val won =
        try tryClaim(spark, root, nextV, encode(c))
        finally cdf.foreach { case (_, ckpt) => ckpt.unpersist() }
      if (won) { writeHeadPointer(f, root, nextV); return c }
      // lost the race: the affected set may have changed under the new
      // head — discard the staged dir, its feed, its self-built sidecar,
      // and any staged vector, then re-prune from scratch
      f.delete(new HPath(s"$root/$newDir"), true)
      f.delete(changesPath(root, feedKey), true)
      deleteSidecars(f, root, newDir)
      if (dvPlan.isDefined) f.delete(dvPath(root, dvName), true)
      Thread.sleep(50L * attempt)
    }
    throw new java.io.IOException(
      s"CommitLog: $writer lost $maxAttempts consecutive merge claims on $root")
  }

  /** PARTIAL OVERWRITE — the Delta `replaceWhere` verb (r13): one
    * serializable rewrite commit (action "replace") swaps exactly the
    * rows matching `cond` for `data` — the idempotent "restate this
    * day/partition" pattern. Delta's constraint holds: every incoming row
    * must itself satisfy `cond` (NULL fails — the statement would
    * otherwise write rows outside the region it claims to replace), and
    * kept rows are those NOT matching, with NULL evaluations KEPT (the
    * SQL DELETE rule).
    *
    * COPY-ON-WRITE with DIRECTORY PRUNING — the merge economics applied
    * to restatement: only directories that MIGHT contain a matching row
    * are rewritten; every other directory is carried into the new commit
    * untouched (byte-identical files, stats preserved). "Might contain"
    * is the SAME evidence decision the connector's filtered scans make
    * ([[CommitLogSource.pruneDirsByEvidence]] over the predicate's
    * resolved conjuncts: per-recorded-column min/max narrowing + bloom
    * point probes), so a restatement and a scan can never disagree about
    * which dirs a predicate touches; a predicate with no usable evidence
    * conservatively rewrites everything. At 100 TB: restating one day of
    * a time-clustered 1000-dir history rewrites the matching dirs plus
    * the incoming rows, never the table.
    *
    * Row-VISIBLE (rows are retracted), WITH a persisted changeset (r14
    * close): the replaced region's rows land as `delete`s and the
    * incoming frame as `insert`s, so [[changesSince]] and the CDF
    * stream ride through the restatement. The incoming frame is
    * localCheckpoint-pinned: validation and every claim attempt's stage
    * read one materialization. */
  def replaceWhere(spark: SparkSession, root: String, writer: String,
      cond: org.apache.spark.sql.Column, data: DataFrame,
      statsCol: Option[String] = None, statsCols: Seq[String] = Nil,
      maxAttempts: Int = 20): Commit = {
    val declared = (statsCol.toSeq ++ statsCols).distinct
    val keep = !org.apache.spark.sql.functions.coalesce(cond, lit(false))
    val pinned = data.localCheckpoint(true)
    try {
      val violating = pinned.filter(keep).take(1)
      if (violating.nonEmpty)
        throw new IllegalArgumentException(
          s"CommitLog.replaceWhere: incoming rows must all satisfy the " +
            s"predicate; got ${violating.head}")
      prunedRewrite(spark, root, writer, "replace", cond,
        incoming = Some(pinned), declared = declared,
        maxAttempts = maxAttempts)
    } finally pinned.unpersist()
  }

  /** DELETE the rows where `cond` is TRUE (NULL evaluations keep their
    * rows — the SQL rule) as one serializable commit (action "delete").
    * Directories the shared evidence decision proves predicate-free
    * carry untouched with stats preserved; a predicate provably matching
    * nothing returns the head unchanged. History stays time-travelable
    * (unlike [[purge]], which also drops it). None on an empty table.
    * The `DELETE FROM` statement on catalog tables routes here (r13).
    *
    * MERGE-ON-READ vs COPY-ON-WRITE (r16 — VERDICT r15 #1): the verb
    * measures the matched fraction of the affected dirs' visible rows in
    * one pass and picks the commit shape per the Delta DV economics —
    *  - fully-matched dirs simply leave the directory list (a metadata
    *    drop, no bytes written);
    *  - partially-matched dirs whose combined matched fraction is ≤
    *    `dvMaxFraction` take a DELETION VECTOR: one tiny `_dv` dataset
    *    of (file, position) rows + one log file — O(changeset) writes
    *    for k scattered point deletes instead of ~k dir rewrites, the
    *    100 TB scale story. Readers anti-join the vector; [[compact]]
    *    materializes it away; the CDF still carries the delete rows.
    *  - anything larger falls back to the dir-pruned copy-on-write
    *    rewrite (a scan-side anti-join against a big vector would tax
    *    every future read more than one rewrite costs).
    * The decision itself costs one counting pass over the affected
    * dirs' visible rows; on the CoW fallback that pass is EXTRA read
    * work (the rewrite re-scans the same dirs) — the price of choosing,
    * bounded by the affected set and warm by the time the rewrite runs.
    * `dvMaxFraction = 0` forces copy-on-write (the pre-r16 shape) and
    * skips the pass entirely. */
  def delete(spark: SparkSession, root: String, writer: String,
      cond: org.apache.spark.sql.Column,
      maxAttempts: Int = 20, dvMaxFraction: Double = 0.2): Option[Commit] =
    latest(spark, root).map(_ =>
      deleteViaDv(spark, root, writer, cond, maxAttempts, dvMaxFraction)
        .getOrElse(prunedRewrite(spark, root, writer, "delete", cond,
          incoming = None, declared = Nil, maxAttempts = maxAttempts)))

  /** The merge-on-read half of [[delete]]: Some(commit) when the
    * deletion landed as a vector (or was a provable no-op); None when
    * the copy-on-write engine should run instead — the matched fraction
    * exceeded the threshold, every matched dir was FULLY matched (a
    * rewrite-shaped drop the CoW path commits with its change feed), or
    * the table emptied under a racing writer. Optimistic like every
    * verb: the decision re-runs against the fresh head per attempt. */
  private def deleteViaDv(spark: SparkSession, root: String,
      writer: String, cond: org.apache.spark.sql.Column,
      maxAttempts: Int, dvMaxFraction: Double): Option[Commit] = {
    requireTag(writer, "writer")
    if (dvMaxFraction <= 0) return None
    init(spark, root)
    val f = fs(spark, root)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      repairTornTail(spark, root)
      val head = latest(spark, root).getOrElse(return None)
      requireWritable(head)
      val conjuncts = predicateConjuncts(spark, root, head, cond)
      val affected =
        if (conjuncts.isEmpty) head.dataDirs
        else CommitLogSource.pruneDirsByEvidence(spark, root, head, conjuncts)
      if (affected.isEmpty) return Some(head) // provably nothing matches
      val headSchema = schemaOf(spark, root, head)
      // ONE pass over the affected dirs' VISIBLE rows decides the shape:
      // per-dir total and cond-TRUE counts (when(cond, 1) counts TRUE
      // only — the SQL rule; NULL keeps its row)
      val withPos = visibleWithPos(spark, root, head, affected)
        .withColumn(DvDirCol, dirOfPath(col(DvPathCol)))
      val perDir = withPos.groupBy(col(DvDirCol))
        .agg(count(lit(1)).as("__n"), count(when(cond, 1)).as("__m"))
        .collect() // O(affected dirs) rows — the planning decision
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val matchedTotal = perDir.map(_._3).sum
      if (matchedTotal == 0) return Some(head) // TRUE nowhere: no-op
      val fullDirs = perDir.filter(t => t._3 == t._2).map(_._1).toSet
      val partial = perDir.filter(t => t._3 > 0 && t._3 < t._2)
      // every matched dir fully matched: a pure drop — rewrite-shaped,
      // let the CoW engine commit it (it stages the empty remainder and
      // persists the change feed keyed by its new dir)
      if (partial.isEmpty) return None
      // the threshold rule: a vector is only worth carrying while it is
      // SMALL relative to what it filters — past the fraction, rewrite
      if (partial.map(_._3).sum > dvMaxFraction * partial.map(_._2).sum)
        return None
      val partialDirs = partial.map(_._1).toSeq
      val nextV = head.version + 1
      val dvName = s"dv-${java.util.UUID.randomUUID().toString.take(8)}-v$nextV"
      // the matched region, pinned ONCE (changeset-sized): it feeds both
      // the new vector (positions) and the change feed (typed rows)
      val m = withPos.filter(cond).localCheckpoint(true)
      try {
        val newPos = m.filter(col(DvDirCol).isin(partialDirs: _*))
          .select(relPath(col(DvPathCol)).as("path"), col(DvPosCol).as("pos"))
        val allDv = foldVectors(spark, root, head, partialDirs, newPos)
        f.mkdirs(dvDir(root))
        allDv.write.mode(SaveMode.Overwrite)
          .parquet(dvPath(root, dvName).toString)
        // CHANGE FEED, the prunedRewrite pattern: the deleted rows land
        // in `_changes/<dvName>` BEFORE the claim — keyed by the new
        // vector's unique name since a DV commit adds no data dir —
        // so [[changesSince]] and the CDF stream ride through
        f.mkdirs(changesDir(root))
        m.select(headSchema.fieldNames.map(col).toSeq: _*)
          .withColumn("_change_type", lit("delete"))
          .write.mode(SaveMode.Overwrite)
          .parquet(changesPath(root, dvName).toString)
        val keptDirs = head.dataDirs.filterNot(fullDirs)
        val c = Commit(nextV, keptDirs, writer, "delete",
          head.stats.filter { case (d, _) => keptDirs.contains(d) },
          statsCols = head.statsCols,
          schemaDDL = Some(carriedDDL(head, headSchema)),
          tsMs = Some(System.currentTimeMillis()),
          constraints = head.constraints,
          // dropped dirs lose their mapping; every partial dir points at
          // the ONE new folded vector; untouched dirs keep theirs. Dir
          // stats stay as committed — a vector only narrows a dir's
          // actual range, so recorded [min, max] remain conservative
          // (prune-sound) bounds
          dv = (head.dv -- fullDirs -- partialDirs) ++
            partialDirs.map(_ -> dvName),
          clusterBy = head.clusterBy,
          defaults = head.defaults,
          colMap = head.colMap,
          fstats = carryFstats(head.fstats, keptDirs),
          partitionBy = head.partitionBy,
          partVals = head.partVals.filter { case (d, _) =>
            keptDirs.contains(d) },
          // recorded totals stay AS-WRITTEN; the vectored share rides in
          // dvRows (cumulative across folds) so visible = rows − dvRows
          rows = head.rows.filter { case (d, _) => keptDirs.contains(d) },
          // cumulative only when the prior vectored share is KNOWN: a
          // dir whose earlier fold dropped its count (the merge-on-read
          // degrade) stays absent — seeding it at 0 would let the exact
          // visible-rows statistic silently undercount (code review r19)
          dvRows = (head.dvRows -- fullDirs) ++ partial.collect {
            case (d, _, m) if head.dvRows.contains(d) || !head.dv.contains(d) =>
              d -> (head.dvRows.getOrElse(d, 0L) + m) },
          gens = head.gens)
        if (tryClaim(spark, root, nextV, encode(c))) {
          writeHeadPointer(f, root, nextV); return Some(c)
        }
        // lost the race: discard the staged vector + feed and re-decide
        // against the new head (the affected set may have changed)
        f.delete(dvPath(root, dvName), true)
        f.delete(changesPath(root, dvName), true)
      } finally m.unpersist()
      Thread.sleep(50L * attempt)
    }
    throw new java.io.IOException(
      s"CommitLog: $writer lost $maxAttempts consecutive delete claims on $root")
  }

  /** UPDATE the rows where `cond` is TRUE (NULL/false evaluations keep
    * their values — the SQL rule), applying `assignments` (column name →
    * new-value expression, evaluated per row over the table's columns
    * and cast to the column's head type) as one serializable dir-pruned
    * rewrite commit (action "update", r14 — the engine behind SQL
    * `UPDATE` on catalog tables): directories the shared evidence
    * decision proves predicate-free carry untouched with stats
    * preserved; a predicate provably matching nothing returns the head
    * unchanged. Row-VISIBLE (stored rows change), WITH a persisted
    * changeset (r14 close): the cond-TRUE region's pre- and post-images
    * land in the change feed, so [[changesSince]] and the CDF stream
    * ride through instead of resyncing. None on an empty table. */
  def update(spark: SparkSession, root: String, writer: String,
      cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      maxAttempts: Int = 20, dvMaxFraction: Double = 0.2): Option[Commit] = {
    require(assignments.nonEmpty, "CommitLog.update needs assignments")
    latest(spark, root).map(_ =>
      updateViaDv(spark, root, writer, cond, assignments, maxAttempts,
        dvMaxFraction)
        .getOrElse(prunedRewrite(spark, root, writer, "update", cond,
          incoming = None, declared = Nil, maxAttempts = maxAttempts,
          assignments = assignments)))
  }

  /** The merge-on-read half of [[update]] (r16, the [[deleteViaDv]]
    * economics applied to UPDATE — Delta's DV-update shape): when the
    * matched fraction of the affected dirs' visible rows is under the
    * threshold, the stored pre-image rows are DV-DELETED in place and
    * the assigned post-image rows land as one O(changeset) appended
    * dir — one commit, ~changeset bytes written, instead of rewriting
    * every might-match dir. Some(commit) when it landed this way (or
    * the update provably matched nothing); None when the copy-on-write
    * engine should run. The CDF carries update_preimage/postimage rows
    * keyed by the new dir, so [[changesSince]] rides through. */
  private def updateViaDv(spark: SparkSession, root: String,
      writer: String, cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      maxAttempts: Int, dvMaxFraction: Double): Option[Commit] = {
    requireTag(writer, "writer")
    if (dvMaxFraction <= 0) return None
    init(spark, root)
    val f = fs(spark, root)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      repairTornTail(spark, root)
      val head = latest(spark, root).getOrElse(return None)
      requireWritable(head)
      val headSchema = schemaOf(spark, root, head)
      assignments.foreach { case (n, _) =>
        require(headSchema.fieldNames.contains(n),
          s"update assigns '$n', not in head schema ${headSchema.simpleString}")
      }
      val conjuncts = predicateConjuncts(spark, root, head, cond)
      val affected =
        if (conjuncts.isEmpty) head.dataDirs
        else CommitLogSource.pruneDirsByEvidence(spark, root, head, conjuncts)
      if (affected.isEmpty) return Some(head) // provably nothing matches
      val withPos = visibleWithPos(spark, root, head, affected)
      val counts = withPos
        .agg(count(lit(1)).as("__n"), count(when(cond, 1)).as("__m"))
        .head()
      val (total, matched) = (counts.getLong(0), counts.getLong(1))
      if (matched == 0) return Some(head) // TRUE nowhere: no-op
      if (matched > dvMaxFraction * total) return None // CoW is cheaper
      val nextV = head.version + 1
      val dvName = s"dv-${java.util.UUID.randomUUID().toString.take(8)}-v$nextV"
      val newDir = s"data-${java.util.UUID.randomUUID().toString.take(8)}-v$nextV"
      // the matched pre-image region, pinned ONCE (changeset-sized): it
      // feeds the vector (positions), the post-images (assigned values),
      // and the typed change feed
      val m = withPos.filter(cond).localCheckpoint(true)
      try {
        val am = assignments.toMap
        val post = m.select(headSchema.fields.toSeq.map { fd =>
          am.get(fd.name) match {
            case Some(v) => v.cast(fd.dataType).as(fd.name)
            case None => col(fd.name)
          }
        }: _*)
        // post-images are NEW values: constraints and generated columns
        // gate before staging
        enforceConstraints(post, head.constraints)
        enforceGenerated(post, head.gens)
        // only dirs that actually contributed matched rows take the
        // vector; evidence false-positives carry untouched (counts per
        // dir feed the dvRows statistics — r19)
        val touchedCounts = m.select(dirOfPath(col(DvPathCol)).as("__d"))
          .groupBy(col("__d")).agg(count(lit(1)).as("__m"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val touched = touchedCounts.keySet
        val newPos = m.select(relPath(col(DvPathCol)).as("path"),
          col(DvPosCol).as("pos"))
        val allDv = foldVectors(spark, root, head, touched.toSeq, newPos)
        f.mkdirs(dvDir(root))
        allDv.write.mode(SaveMode.Overwrite)
          .parquet(dvPath(root, dvName).toString)
        toPhysical(post, head.colMap).write
          .mode(SaveMode.Overwrite).parquet(s"$root/$newDir")
        // CDF keyed by the NEW DIR (the commit adds one — the merge
        // pattern): pre-images then post-images, delta-sized
        f.mkdirs(changesDir(root))
        m.select(headSchema.fieldNames.map(col).toSeq: _*)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(post.withColumn("_change_type",
            lit("update_postimage")))
          .write.mode(SaveMode.Overwrite)
          .parquet(changesPath(root, newDir).toString)
        locally {
          val legacySb = bloomColumn(spark, root)
          bloomColumns(spark, root).foreach(bc =>
            buildSidecarAt(spark, root, newDir, headSchema, head.colMap, bc,
              fpp = 0.001, sidecarPathFor(root, legacySb, bc, newDir)))
        }
        val effCols = head.statsCols
        val ft = footers(spark, root, Seq(newDir), effCols, head.colMap)
        val c = Commit(nextV, head.dataDirs :+ newDir, writer, "update",
          head.stats ++ ft.stats,
          statsCols = if ((head.stats ++ ft.stats).nonEmpty) effCols else Nil,
          schemaDDL = Some(carriedDDL(head, headSchema)),
          tsMs = Some(System.currentTimeMillis()),
          constraints = head.constraints,
          dv = (head.dv -- touched) ++ touched.toSeq.map(_ -> dvName),
          clusterBy = head.clusterBy,
          defaults = head.defaults,
          colMap = head.colMap,
          fstats = head.fstats ++ ft.fstats,
          partitionBy = head.partitionBy,
          // the post-image dir carries no partition identity (kept by
          // every partition filter — conservative); existing entries ride
          partVals = head.partVals,
          rows = head.rows ++ ft.rows,
          // same unknown-stays-unknown rule as the delete fold (code
          // review r19): never seed a dv-bearing dir's count at 0
          dvRows = head.dvRows ++ touchedCounts.collect {
            case (d, n) if head.dvRows.contains(d) || !head.dv.contains(d) =>
              d -> (head.dvRows.getOrElse(d, 0L) + n) },
          gens = head.gens)
        if (tryClaim(spark, root, nextV, encode(c))) {
          writeHeadPointer(f, root, nextV); return Some(c)
        }
        f.delete(dvPath(root, dvName), true)
        f.delete(new HPath(s"$root/$newDir"), true)
        f.delete(changesPath(root, newDir), true)
        deleteSidecars(f, root, newDir)
      } finally m.unpersist()
      Thread.sleep(50L * attempt)
    }
    throw new java.io.IOException(
      s"CommitLog: $writer lost $maxAttempts consecutive update claims on $root")
  }

  /** The optimized predicate's conjuncts over `head`'s snapshot — the
    * input to the shared evidence pruning ([[CommitLogSource
    * .pruneDirsByEvidence]]), factored from [[prunedRewrite]] so the DV
    * delete route prunes IDENTICALLY (r16). No Filter in the optimized
    * plan (a constant-true predicate) means no evidence: Nil, and the
    * caller conservatively treats every dir as affected. */
  private def predicateConjuncts(spark: SparkSession, root: String,
      head: Commit, cond: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val plan = load(spark, root, head).filter(cond)
      .queryExecution.optimizedPlan
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          split(l) ++ split(r)
        case other => Seq(other)
      }
    plan.collectFirst {
      case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        split(fl.condition)
    }.getOrElse(Nil)
  }

  /** The pruned-rewrite engine behind [[replaceWhere]] (incoming = the
    * restatement), [[delete]], [[purge]] (incoming = None), and
    * [[update]] (assignments nonEmpty): one serializable commit whose
    * new directory holds the affected dirs' rows with the cond-TRUE
    * region removed (delete shapes) or rewritten per the assignments
    * (update), plus the incoming restatement if any, while every dir the
    * shared evidence decision proves predicate-free is CARRIED untouched.
    * A purge whose predicate provably matches no retained dir returns
    * the head unchanged — nothing to forget. */
  private def prunedRewrite(spark: SparkSession, root: String,
      writer: String, action: String, cond: org.apache.spark.sql.Column,
      incoming: Option[DataFrame], declared: Seq[String],
      maxAttempts: Int,
      assignments: Seq[(String, org.apache.spark.sql.Column)] = Nil): Commit = {
    requireTag(writer, "writer"); requireTag(action, "action")
    declared.foreach(sc => requireTag(sc, "statsCol"))
    init(spark, root)
    val f = fs(spark, root)
    val keep = !org.apache.spark.sql.functions.coalesce(cond, lit(false))
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      repairTornTail(spark, root)
      val cur = latest(spark, root)
      cur.foreach(requireWritable)
      val head = cur.getOrElse(incoming match {
        // empty table: a restatement is a create (ordinary commit loop;
        // the incoming rows were validated by the caller); a purge of an
        // empty table has nothing to rewrite
        case Some(inc) =>
          // the creating verb, like every sibling write path on an
          // empty table (code review r13: audit consumers key on it)
          return commit(spark, root, writer, "create", maxAttempts,
            statsCols = declared)(_ => inc)
        case None => throw new IllegalStateException(
          s"CommitLog: $action on an empty table — nothing to rewrite")
      })
      val headSchema = schemaOf(spark, root, head)
      incoming.foreach { inc =>
        val same = headSchema.length == inc.schema.length &&
          headSchema.forall(hf => inc.schema.exists(pf =>
            pf.name == hf.name && sameTypeLoose(pf.dataType, hf.dataType)))
        require(same,
          s"$action schema mismatch vs head v${head.version}: head " +
            s"${headSchema.simpleString} vs data ${inc.schema.simpleString}")
      }
      if (declared.nonEmpty && head.statsCols.nonEmpty)
        require(declared.toSet == head.statsCols.toSet,
          s"statsCols ${declared.mkString("[", ",", "]")} conflict with " +
            s"the table's recorded ${head.statsCols.mkString("[", ",", "]")}")
      val effCols = if (declared.nonEmpty) declared else head.statsCols
      // a bad statsCol must fail BEFORE the staged snapshot write (the
      // commitImpl/appendImpl guard; code review r13: without it a typo
      // pays the full rewrite I/O and strands the staging)
      effCols.foreach(sc => require(headSchema.fieldNames.contains(sc),
        s"statsCol '$sc' not in head schema ${headSchema.simpleString}"))
      // affected dirs: resolve the predicate against the head snapshot
      // and hand its conjuncts to the shared evidence pruning — no
      // Filter in the optimized plan (e.g. a constant-true predicate)
      // means no evidence: rewrite everything, conservative
      val conjuncts = predicateConjuncts(spark, root, head, cond)
      val affected =
        if (conjuncts.isEmpty) head.dataDirs
        else CommitLogSource.pruneDirsByEvidence(spark, root, head, conjuncts)
      // a predicate provably absent from every dir: a purge is a no-op
      // (the head already holds nothing to forget); a restatement still
      // commits (it INSERTS its region even where nothing matched)
      if (affected.isEmpty && incoming.isEmpty) return head
      // assigned columns must exist in the head schema, checked before
      // any staging I/O (the statsCol-guard rule)
      assignments.foreach { case (n, _) =>
        require(headSchema.fieldNames.contains(n),
          s"$action assigns '$n', not in head schema ${headSchema.simpleString}")
      }
      val carried = head.dataDirs.filterNot(affected.contains)
      val headCols = headSchema.fieldNames.map(col)
      val kept =
        if (affected.isEmpty) None
        else if (assignments.isEmpty)
          Some(readCommitDirs(spark, root, head, affected).filter(keep))
        else {
          // UPDATE shape: every affected row survives; assigned columns
          // take the new value where cond is TRUE (NULL/false keep the
          // stored value — when()'s otherwise, the SQL rule), cast to
          // the column's head type so the staged parquet cannot drift
          val am = assignments.toMap
          Some(readCommitDirs(spark, root, head, affected)
            .select(headSchema.fields.toSeq.map { f =>
              am.get(f.name) match {
                case Some(v) =>
                  when(cond, v.cast(f.dataType))
                    .otherwise(col(f.name)).cast(f.dataType).as(f.name)
                case None => col(f.name)
              }
            }: _*))
        }
      // CHECK constraints (r14): a restatement's incoming rows and an
      // update's rewritten rows are NEW values and gate before staging;
      // delete/purge keeps only rows that satisfied when written.
      // GENERATED columns (r19) validate on the same new-value surfaces.
      incoming.foreach { inc => enforceConstraints(inc, head.constraints)
        enforceGenerated(inc, head.gens) }
      if (assignments.nonEmpty)
        kept.foreach { k => enforceConstraints(k, head.constraints)
          enforceGenerated(k, head.gens) }
      val stage = (kept, incoming.map(_.select(headCols: _*))) match {
        case (Some(k), Some(inc)) => k.unionByName(inc)
        case (Some(k), None) => k
        case (None, Some(inc)) => inc
        case (None, None) => throw new IllegalStateException("unreachable")
      }
      val nextV = head.version + 1
      // partition spec (r19): a partitioned table's restatement stages
      // SPLIT per partition tuple — a one-day restatement then rewrites
      // only that day's dirs and every other partition carries
      // byte-identical. An empty remainder still stages one (possibly
      // empty) dir: the commit needs a feed key and ≥1 dir is free.
      val newDirs: Seq[(String, Seq[String])] = {
        val split =
          if (head.partitionBy.isEmpty) Nil
          else stagePartitioned(spark, root, stage, head.partitionBy,
            head.colMap, nextV)
        if (split.nonEmpty) split
        else {
          val d = s"data-${java.util.UUID.randomUUID().toString.take(8)}-v$nextV"
          toPhysical(stage, head.colMap).write
            .mode(SaveMode.Overwrite).parquet(s"$root/$d")
          Seq(d -> Nil)
        }
      }
      // the change feed keys on the FIRST new dir ([[changesSince]]
      // probes the added dirs for the one feed file)
      val newDir = newDirs.head._1
      // CHANGE FEED for the pruned-rewrite verbs (r14): delete, update,
      // and replaceWhere persist their typed changeset to
      // `_changes/<newDir>` BEFORE the claim — the merge pattern — so
      // [[changesSince]] and the CDF stream ride through them instead of
      // forcing a resync. Rows are the cond-TRUE region only
      // (delta-sized by the matched region, never the table): deletes as
      // `delete`, an update as `update_preimage`+`update_postimage`, a
      // restatement as `delete` of the region plus `insert` of the
      // incoming rows. PURGE deliberately persists NOTHING — a feed that
      // retained purged rows would defeat right-to-be-forgotten, so its
      // consumers still resync (changesSince → None). SKIPPED when no
      // dir was affected (code review r14 close): the commit is then
      // append-shaped and [[changesSince]] synthesizes the inserts from
      // the new dir itself — the feed file would never be read.
      if (action != "purge" && affected.nonEmpty) {
        val matchedTrue = // the SQL-rule complement of the keep set
          readCommitDirs(spark, root, head, affected)
            .filter(cond).select(headCols: _*)
        val (typed, ckpt): (DataFrame, Option[DataFrame]) = action match {
          case "delete" =>
            (matchedTrue.withColumn("_change_type", lit("delete")), None)
          case "update" =>
            // pre/post images derive from ONE materialized read of the
            // delta-sized matched region (the merge pinning pattern —
            // unpinned, the union's write would scan the affected dirs
            // twice more; code review r14 close)
            val m = matchedTrue.localCheckpoint(true)
            val am = assignments.toMap
            val post = m.select(headSchema.fields.toSeq.map { f =>
              am.get(f.name) match {
                case Some(v) => v.cast(f.dataType).as(f.name)
                case None => col(f.name)
              }
            }: _*)
            (m.withColumn("_change_type", lit("update_preimage"))
              .unionByName(
                post.withColumn("_change_type", lit("update_postimage"))),
              Some(m))
          case _ => // replace (and any future restatement shape)
            val dels = matchedTrue.withColumn("_change_type", lit("delete"))
            (incoming.map(i => dels.unionByName(i.select(headCols: _*)
              .withColumn("_change_type", lit("insert"))))
              .getOrElse(dels), None)
        }
        try {
          f.mkdirs(changesDir(root))
          typed.write.mode(SaveMode.Overwrite)
            .parquet(changesPath(root, newDir).toString)
        } finally ckpt.foreach(_.unpersist())
      }
      // self-maintaining bloom evidence, the merge rule: a bloomed
      // table's rewrite output gets its sidecar immediately (marker read
      // ONCE — code review r13)
      {
        val legacySb = bloomColumn(spark, root)
        bloomColumns(spark, root).foreach(bc =>
          newDirs.foreach { case (nd, _) =>
            buildSidecarAt(spark, root, nd, headSchema, head.colMap, bc,
              fpp = 0.001, sidecarPathFor(root, legacySb, bc, nd)) })
      }
      val ft = footers(spark, root, newDirs.map(_._1), effCols, head.colMap)
      val allStats = head.stats
        .filter { case (d, _) => carried.contains(d) } ++ ft.stats
      val c = Commit(nextV, carried ++ newDirs.map(_._1), writer, action,
        allStats,
        statsCols = if (allStats.nonEmpty) effCols else Nil,
        schemaDDL = Some(carriedDDL(head, headSchema)),
        tsMs = Some(System.currentTimeMillis()),
        constraints = head.constraints,
        // carried dirs keep their deletion vectors; the affected dirs'
        // vectors are MATERIALIZED by the DV-aware reads above
        dv = head.dv.filter { case (d, _) => carried.contains(d) },
        clusterBy = head.clusterBy,
        defaults = head.defaults,
        colMap = head.colMap,
        fstats = carryFstats(head.fstats, carried) ++ ft.fstats,
        partitionBy = head.partitionBy,
        partVals = head.partVals.filter { case (d, _) =>
          carried.contains(d) } ++
          newDirs.collect { case (d, vs) if vs.nonEmpty => d -> vs },
        rows = head.rows.filter { case (d, _) =>
          carried.contains(d) } ++ ft.rows,
        dvRows = head.dvRows.filter { case (d, _) => carried.contains(d) },
        gens = head.gens)
      if (tryClaim(spark, root, nextV, encode(c))) {
        writeHeadPointer(f, root, nextV); return c
      }
      // lost the race: the affected set may differ under the new head
      newDirs.foreach { case (nd, _) =>
        f.delete(new HPath(s"$root/$nd"), true)
        deleteSidecars(f, root, nd)
      }
      f.delete(changesPath(root, newDir), true)
      Thread.sleep(50L * attempt)
    }
    throw new java.io.IOException(
      s"CommitLog: $writer lost $maxAttempts consecutive $action claims on $root")
  }

  /** Retain only the newest `keep` committed versions: older commit FILES
    * are dropped, then every `data-*-v<N>` directory no kept commit
    * references is swept — vacuumed-version data and crashed/lost
    * stagings alike (append commits SHARE directories across versions, so
    * a dir is deletable only when NO kept commit lists it, never merely
    * because its creating version aged out). Safe under CONCURRENT
    * writers: a sweepable dir must (a) be unreferenced by every kept
    * commit, (b) target a version ≤ the newest committed — its claim can
    * no longer be won at that number — and (c) be older than `graceMs`,
    * which covers the appender whose tentative version was passed while
    * it retries (retry backoff is seconds; the default grace is 10
    * minutes).
    *
    * TIME-BASED retention (r14 — VERDICT r13 #6, the unit operators
    * actually reason in: "retain 7 days"): with `retainMs` set, a
    * commit is dropped only when it is BOTH outside the newest-`keep`
    * floor AND provably older than `now − retainMs` by its MONOTONIZED
    * wall-clock (the [[commitAtTimestamp]] clock — a skewed-low stamp
    * cannot age a commit out early). Retention stays a SUFFIX of the
    * log (the invariant every incremental consumer relies on): the
    * sweep keeps everything from the oldest protected commit on. A
    * commit missing its timestamp is provably old only when a LATER
    * stamped commit's monotonized time is below the cutoff (commit
    * order bounds it from above — ADVICE r14); an unproven one stays
    * protected and shields everything after it, EXCEPT that a history
    * with no timestamps at all carries no time evidence either way and
    * ages out by count alone. The txn-watermark contract
    * is now expressible in time: set `retainMs` above the longest
    * writer restart window and an idempotent writer's newest watermark
    * commit survives every scheduled sweep regardless of commit rate. */
  def vacuum(spark: SparkSession, root: String, keep: Int,
      graceMs: Long = 600000L, retainMs: Option[Long] = None): Int = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    retainMs.foreach(r => require(r >= 0, s"retainMs must be >= 0, got $r"))
    val f = fs(spark, root)
    val committed = versions(spark, root)
      .flatMap(v => readCommitFile(spark, root, v))
    val countProtectedFrom =
      committed.drop(math.max(0, committed.size - keep))
        .headOption.map(_.version)
    // Time protection drops a commit only when it is PROVABLY older than
    // the cutoff under the monotonized clock. A commit missing its stamp
    // has no upper bound of its own, but any LATER stamped commit whose
    // monotonized time is below the cutoff proves everything at-or-before
    // it old (commit order bounds it from above) — so a pre-timestamp
    // commit followed by old stamped commits ages out with them instead
    // of freezing vacuum at itself (ADVICE r14: the old anchor-at-self
    // rule made retainMs a permanent no-op over any history with one
    // early unstamped commit). A history with NO stamps at all carries
    // no time evidence either way: time protection is inexpressible, so
    // it falls back to count-only (the scaladoc contract).
    val timeProtectedFrom = retainMs.flatMap { r =>
      val cutoff = System.currentTimeMillis() - r
      var eff = Long.MinValue
      var lastProvablyOld: Option[Long] = None
      committed.foreach { c =>
        c.tsMs.foreach { t =>
          eff = math.max(eff, t)
          if (eff < cutoff) lastProvablyOld = Some(c.version)
        }
      }
      lastProvablyOld match {
        case Some(v) => committed.find(_.version > v).map(_.version)
        case None =>
          if (committed.exists(_.tsMs.nonEmpty))
            committed.headOption.map(_.version) // all within window: keep all
          else None // pre-timestamp history: age out by count alone
      }
    }
    val protectFrom: Long = (countProtectedFrom.toSeq ++ timeProtectedFrom)
      .reduceOption((a: Long, b: Long) => math.min(a, b))
      .getOrElse(Long.MaxValue)
    val (old, kept) = committed.partition(_.version < protectFrom)
    old.foreach(c => f.delete(commitPath(root, c.version), false))
    // the checkpoint must never reference swept versions (r17): rewrite
    // it dropping the swept prefix, or remove it when nothing it lists
    // survives; a crash mid-rewrite reads as damage → walk fallback, and
    // the reader's leading existence probe covers the sweep→rewrite
    // window either way. Best-effort like every advisory artifact.
    if (old.nonEmpty) scala.util.Try {
      readCheckpoint(f, root).foreach { entries =>
        val live = entries.filter(_.v >= protectFrom)
        if (live.isEmpty) f.delete(checkpointPath(root), false)
        else if (live.size != entries.size) writeIndexFile(f, root, live)
      }
    }
    val live = kept.flatMap(_.dataDirs).toSet
    val newestCommitted = committed.lastOption.map(_.version).getOrElse(0L)
    def targetVersion(dirName: String): Option[Long] = nameVersion(dirName)
    val now = System.currentTimeMillis()
    Option(f.listStatus(new HPath(root))).toSeq.flatten
      .filter { st =>
        st.isDirectory && st.getPath.getName.startsWith("data-") &&
          !live.contains(st.getPath.getName) &&
          targetVersion(st.getPath.getName).exists(_ <= newestCommitted) &&
          now - st.getModificationTime > graceMs
      }
      .foreach(st => f.delete(st.getPath, true))
    // crashed partition-split stagings (r19): `stage-*-v<N>` parents are
    // pre-rename scratch — never referenced by any commit — so the sweep
    // needs only the version-passed + grace gates of the data-dir rule
    Option(f.listStatus(new HPath(root))).toSeq.flatten
      .filter { st =>
        st.isDirectory && st.getPath.getName.startsWith("stage-") &&
          targetVersion(st.getPath.getName).exists(_ <= newestCommitted) &&
          now - st.getModificationTime > graceMs
      }
      .foreach(st => f.delete(st.getPath, true))
    // deletion-vector datasets (r16): commit-REFERENCED metadata (never
    // advisory — a missing vector would resurrect deleted rows), so the
    // sweep rule is the DATA-DIR rule, not the sidecar rule: deletable
    // only when no kept commit's dv map references the name, the name's
    // embedded target version is passed (its claim can no longer be
    // won), and it is older than the staging grace
    val liveDv = kept.flatMap(_.dv.values).toSet
    if (f.exists(dvDir(root)))
      Option(f.listStatus(dvDir(root))).toSeq.flatten
        .filter { st =>
          val n = st.getPath.getName
          st.isDirectory && n.startsWith("dv-") && !liveDv.contains(n) &&
            targetVersion(n).exists(_ <= newestCommitted) &&
            now - st.getModificationTime > graceMs
        }
        .foreach(st => f.delete(st.getPath, true))
    // change-feed files: keyed by the commit's new data dir (merges,
    // rewrite verbs) or its new deletion-vector name (DV deletes, r16),
    // so the sweep rule is the bloom-sidecar rule — garbage exactly when
    // no kept commit references the key AND the keyed artifact itself is
    // gone (covers vacuumed merges, purged history, and pre-claim crash
    // orphans, whose staged dirs the sweeps above already aged out)
    if (f.exists(changesDir(root)))
      Option(f.listStatus(changesDir(root))).toSeq.flatten
        .filter { st =>
          val d = st.getPath.getName
          !live.contains(d) && !f.exists(new HPath(root, d)) &&
            !liveDv.contains(d) && !f.exists(dvPath(root, d))
        }
        .foreach(st => f.delete(st.getPath, true))
    // stranded bloom sidecars: advisory metadata keyed by dir name, so a
    // sidecar is garbage exactly when no kept commit references its dir
    // AND the dir itself is gone (swept above or by an earlier pass)
    if (f.exists(bloomDir(root))) {
      def sweepable(name: String): Boolean =
        name.endsWith(".bin") && {
          val d = name.stripSuffix(".bin")
          !live.contains(d) && !f.exists(new HPath(root, d))
        }
      Option(f.listStatus(bloomDir(root))).toSeq.flatten
        .filter { st =>
          // only `<dir>.bin` sidecars are sweepable — the `_column`
          // marker (and the `_columns/` marker dir) is table-lifetime
          // metadata, not keyed to any dir
          st.isFile && sweepable(st.getPath.getName)
        }
        .foreach(st => f.delete(st.getPath, false))
      // r17 per-column sidecar subtrees: same rule per `col=<name>/`
      Option(f.listStatus(bloomDir(root))).toSeq.flatten
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("col="))
        .foreach { cd =>
          Option(f.listStatus(cd.getPath)).toSeq.flatten
            .filter(st => st.isFile && sweepable(st.getPath.getName))
            .foreach(st => f.delete(st.getPath, false))
        }
    }
    // crashed atomicCreate stagings: the local-fs claim path writes a
    // .tmp-<uuid> sibling before hard-linking; a crash between write and
    // the finally-delete leaks it forever (versions() ignores tmp names,
    // but nothing else swept them — ADVICE r11). Age-gate on the same
    // grace as data dirs: a LIVE claimant's tmp file is milliseconds old.
    Seq(logDir(root), bloomDir(root)).foreach { d =>
      if (f.exists(d))
        Option(f.listStatus(d)).toSeq.flatten
          .filter(st => st.isFile && st.getPath.getName.startsWith(".tmp-") &&
            now - st.getModificationTime > graceMs)
          .foreach(st => f.delete(st.getPath, false))
    }
    old.size
  }
}
