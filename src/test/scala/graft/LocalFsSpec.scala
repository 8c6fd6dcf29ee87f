package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.security.PrivilegedExceptionAction
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.functions._
import graft.api.MapperRunner
import graft.sources.{CommitLog, InvertedIndex}

/** The engine's `file` filesystem: engine writes fork no `chmod` (JFR
  * `jdk.ProcessStart`), and every file and directory gets the mode, and
  * the `.crc` sidecar, the stock local filesystem gives it. */
class LocalFsSpec extends SparkSpec {
  private val fileUri = URI.create("file:///")
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** Commands of the processes the JVM launched while `body` ran. */
  private def launches(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("local-fs", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(f) }
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → mode of everything under `root`, `root` excluded. */
  private def modes(root: JPath): Map[String, Int] = {
    val st = Files.walk(root)
    try st.iterator.asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap
    finally st.close()
  }

  private def octal(m: String): Int = Integer.parseInt(m, 8)
  private def oct(m: Int) = "0" + Integer.toOctalString(m)
  private def perm(m: String) = new FsPermission(octal(m).toShort)

  /** A `file` filesystem outside the cache: the engine's or the stock one. */
  private def localFs(umask: String, stock: Boolean): FileSystem = {
    val c = new Configuration(hadoopConf)
    c.set("fs.permissions.umask-mode", umask)
    if (stock) c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    FileSystem.newInstance(fileUri, c)
  }

  test("file:// under the session's Hadoop conf is the engine's filesystem") {
    val fresh = FileSystem.newInstance(fileUri, hadoopConf)
    try assert(fresh.getClass == classOf[GraftLocalFileSystem])
    finally fresh.close()
    assert(GraftSession.foreignLocalFs(hadoopConf).isEmpty,
      "the JVM's cached file:// filesystem must be the engine's")
  }

  test("engine writes launch no chmod; files 0644, dirs 0755, .crc sidecars written") {
    val root = Files.createTempDirectory("graft-localfs")
    val outputs = Seq("table", "log", "index", "kv")
    val Seq(table, log, index, kv) = outputs.map(root.resolve(_).toString)
    spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.parquet(kv)
    val docs = Tables.documents(spark, sf).limit(40)
    val cmds = launches {
      spark.range(0, 200).withColumn("p", col("id") % 5)
        .write.partitionBy("p").parquet(table)
      CommitLog.commitAppend(spark, log, "w", "append",
        statsCols = Seq("id"), createOnEmpty = true)(spark.range(0, 50).toDF())
      InvertedIndex.append(docs, index, seg = 1L)
      InvertedIndex.compact(spark, index)
      MapperRunner.upsert(spark, kv,
        spark.range(90, 110).select(col("id").as("k"), lit(0L).as("v")),
        Seq("k"))
    }
    val chmods = cmds.filter(_.contains("chmod"))
    val launched = chmods.size
    assert(launched == 0, s"chmod launches, e.g. ${chmods.take(3).mkString("; ")}")
    val written = modes(root)
    val wrong = written.filter { case (rel, m) =>
      m != octal(if (Files.isDirectory(root.resolve(rel))) "755" else "644")
    }
    assert(wrong.isEmpty, wrong.take(5).map { case (r, m) => s"$r ${oct(m)}" })
    outputs.foreach { d =>
      assert(written.keys.exists(k => k.startsWith(d + "/") &&
        k.endsWith(".parquet.crc")), s"no .crc under $d")
    }
  }

  test("modes, umask and .crc sidecars equal the stock filesystem's, umask 022 and 077") {
    for ((umask, file, dir) <- Seq(("022", "644", "755"), ("077", "600", "700"))) {
      val trees = Seq(false, true).map { stock =>
        val fs = localFs(umask, stock)
        val root = Files.createTempDirectory(s"graft-fs-$umask")
        val r = new Path(root.toUri)
        try {
          val out = fs.create(new Path(r, "a/b/data.bin"))
          out.write(Array.fill[Byte](100)(1)); out.close()
          fs.mkdirs(new Path(r, "plain/x"))
          fs.mkdirs(new Path(r, "perm/x"), perm("750"))
          val o2 = fs.create(new Path(r, "explicit.bin"),
            perm("640"), true, 4096,
            1.toShort, 1 << 20, null)
          o2.write(1); o2.close()
          fs.setPermission(new Path(r, "a"), perm("711"))
        } finally fs.close()
        modes(root)
      }
      val (engine, stock) = (trees(0), trees(1))
      assert(engine == stock, s"umask $umask")
      assert(engine("a/b/data.bin") == octal(file) && engine("a/b") == octal(dir),
        s"umask $umask")
      assert(engine.contains("a/b/.data.bin.crc"))
    }
  }

  test("a sticky-bit setPermission still applies, through the stock path") {
    val root = Files.createTempDirectory("graft-sticky")
    val fs = localFs("022", stock = false)
    try {
      val cmds = launches(fs.setPermission(new Path(root.toUri), perm("1755")))
      assert(mode(root) == octal("1755"), oct(mode(root)))
      assert(cmds.count(_.contains("chmod")) == 1)
    } finally fs.close()
  }

  test("foreignLocalFs names the class a bare Configuration cached first") {
    // another user's cache key, so the session's cached entry is untouched
    val ugi = UserGroupInformation.createRemoteUser("graft-localfs-other")
    try {
      val foreign = ugi.doAs(new PrivilegedExceptionAction[Option[String]] {
        def run(): Option[String] = {
          FileSystem.get(fileUri, new Configuration())
          GraftSession.foreignLocalFs(hadoopConf)
        }
      })
      assert(foreign.exists(_ != classOf[GraftLocalFileSystem].getName))
    } finally FileSystem.closeAllForUGI(ugi)
  }
}
