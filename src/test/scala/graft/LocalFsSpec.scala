package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{ForkFreeFs, ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** The fork-free `file:` filesystem ([[graft.util.ForkFreeFs]]): the same
  * permission bits as the stock local filesystem, registered by
  * `Tables.configure` before a session caches `file:`, and out of the
  * way of a user's own choice. */
class LocalFsSpec extends AnyFunSuite {
  private val FileUri = URI.create("file:///")

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_localfs_$tag").toString

  /** Full st_mode permission bits (sticky included) of a local path. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Creates files and dirs through `fs` under `root`, returning the
    * mode of each path it made, checksum side files included. */
  private def createAll(fs: FileSystem, root: String): Seq[(String, Int)] = {
    fs.mkdirs(new Path(s"$root/d"))
    fs.create(new Path(s"$root/d/f")).close()
    fs.create(new Path(s"$root/d/g"), new FsPermission("640"), true, 4096,
      1.toShort, 1L << 20, null).close()
    fs.mkdirs(new Path(s"$root/e"), new FsPermission("750"))
    fs.create(new Path(s"$root/e/h")).close()
    fs.setPermission(new Path(s"$root/e/h"), new FsPermission("604"))
    Seq("d", "d/f", "d/.f.crc", "d/g", "d/.g.crc", "e", "e/h")
      .map(x => x -> mode(s"$root/$x"))
  }

  test("a file and a directory get the stock LocalFileSystem's bits, umask applied") {
    Seq("022", "027", "077").foreach { umask =>
      val c = conf(umask)
      val stock = new LocalFileSystem()
      stock.initialize(FileUri, c)
      val ours = new ForkFreeLocalFileSystem()
      ours.initialize(FileUri, c)
      val want = createAll(stock, tmpDir("stock"))
      assert(createAll(ours, tmpDir("ours")) === want, s"umask $umask")
      // the umask is really in force (not a coincidence of defaults)
      assert(want.toMap.apply("d/f") === (0x1b6 & ~Integer.parseInt(umask, 8)))
    }
  }

  test("FileContext through the AbstractFileSystem twin gets the stock LocalFs bits") {
    Seq("022", "077").foreach { umask =>
      val stockConf = conf(umask)
      val oursConf = conf(umask)
      ForkFreeFs.register(oursConf)
      assert(AbstractFileSystem.get(FileUri, oursConf).isInstanceOf[ForkFreeLocalFs])
      def viaContext(c: Configuration, root: String): Seq[Int] = {
        val fc = FileContext.getFileContext(FileUri, c)
        fc.mkdir(new Path(s"$root/log"), FsPermission.getDirDefault, true)
        fc.create(new Path(s"$root/log/0"), EnumSet.of(CreateFlag.CREATE)).close()
        Seq("log", "log/0", "log/.0.crc").map(x => mode(s"$root/$x"))
      }
      assert(viaContext(oursConf, tmpDir("fc_ours")) ===
        viaContext(stockConf, tmpDir("fc_stock")), s"umask $umask")
    }
  }

  test("a sticky bit, which NIO cannot set, falls back to the stock chmod") {
    val c = conf("022")
    val ours = new ForkFreeLocalFileSystem()
    ours.initialize(FileUri, c)
    val dir = tmpDir("sticky")
    ours.setPermission(new Path(dir), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) === Integer.parseInt("1777", 8))
  }

  test("register leaves a user's own file: implementation alone") {
    val user = new Configuration()
    user.set(ForkFreeFs.FileImplKey, classOf[LocalFileSystem].getName)
    ForkFreeFs.register(user)
    assert(user.get(ForkFreeFs.FileImplKey) === classOf[LocalFileSystem].getName)
    assert(user.get(ForkFreeFs.AbstractFileImplKey) === "org.apache.hadoop.fs.local.LocalFs")
    val userAfs = new Configuration()
    userAfs.set(ForkFreeFs.AbstractFileImplKey, "org.apache.hadoop.fs.local.RawLocalFs")
    ForkFreeFs.register(userAfs)
    assert(Option(userAfs.get(ForkFreeFs.FileImplKey)).forall(_.isEmpty))
    assert(userAfs.get(ForkFreeFs.AbstractFileImplKey) === "org.apache.hadoop.fs.local.RawLocalFs")
  }

  test("a session built like the benchmark's resolves file: to the fork-free classes, with no chmod on PATH") {
    // A fresh JVM: FileSystem.get caches `file:` once per JVM, so only a
    // new process shows what a new session resolves. Its PATH has no
    // chmod, so any write that still forks one fails.
    val work = tmpDir("probe")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = Seq("java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
      "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
      "java.base/sun.nio.cs", "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(java, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.LocalFsProbe", work)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("PATH", s"$work/no-bin")
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() === 0, out.takeRight(40).mkString("\n"))
    val got = out.collect { case l if l.startsWith("probe ") =>
      val Array(k, v) = l.stripPrefix("probe ").split("=", 2); k -> v }.toMap
    assert(got("fs") === classOf[ForkFreeLocalFileSystem].getName)
    assert(got("afs") === classOf[ForkFreeLocalFs].getName)
    assert(got("local") === "true", "FileSystem.getLocal must still be a LocalFileSystem")
    assert(got("rows") === "100")
    assert(got("stream") === "100")
    assert(got("store") === "2.0")
    // the control: the stock filesystem does fork, and fails without chmod
    assert(got("stock").startsWith("failed"), got("stock"))
  }
}

/** Child-JVM half of [[LocalFsSpec]]'s session test: builds a session
  * the way the benchmark does (`builder().getOrCreate()`, then
  * `Tables.configure`), prints what `file:` resolves to, and writes
  * through Spark, a stream checkpoint and the parquet online store. */
object LocalFsProbe {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.configure(spark)
    val hconf = spark.sparkContext.hadoopConfiguration
    val uri = URI.create("file:///")
    def out(k: String, v: Any): Unit = println(s"probe $k=$v")
    out("fs", FileSystem.get(uri, hconf).getClass.getName)
    out("afs", AbstractFileSystem.get(uri, hconf).getClass.getName)
    out("local", FileSystem.getLocal(hconf).isInstanceOf[LocalFileSystem])
    spark.range(100).write.parquet(s"$work/t")
    out("rows", spark.read.parquet(s"$work/t").count())
    // stream offset and commit logs go through FileContext
    val q = spark.readStream.schema(spark.read.parquet(s"$work/t").schema)
      .parquet(s"$work/t").writeStream.format("parquet")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$work/sink")
    q.awaitTermination()
    out("stream", spark.read.parquet(s"$work/sink").count())
    import spark.implicits._
    import graft.model._
    val store = new graft.online.ParquetOnlineStore(s"$work/store", numBuckets = 2)
    val view = FeatureView("v", Seq("user"), Seq(Feature("value", GraftType.Dbl)),
      java.time.Duration.ZERO, DataFrameSource(spark.emptyDataFrame, eventTimestampColumn = "ts"))
    Seq(1.0, 2.0).foreach { v =>
      store.upsert("p", view, Seq("user_id"),
        Seq((1L, new java.sql.Timestamp(v.toLong * 1000L), v)).toDF("user_id", "ts", "value"),
        "ts", None)
    }
    out("store", store.read("p", view, Seq("user_id"), Seq(Seq("user_id" -> 1L)), Seq("value"))
      .head._2("value").value)
    val stock = new LocalFileSystem()
    stock.initialize(uri, hconf)
    out("stock", try { stock.create(new Path(s"$work/stock")).close(); "created" }
      catch { case e: java.io.IOException => s"failed: ${e.getMessage}" })
    spark.stop()
  }
}
