package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.{DriverManager, SQLException}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

/** The one owner of on-disk scratch space: the only code in `src/main`
  * that names, places or deletes it. The sink and streaming gates check a
  * sink by writing to scratch and reading the data back; this is where
  * that scratch lives and how it goes away.
  *
  * Every directory is run-unique (`createTempDirectory`, with the pid in
  * its name to say which process made it); every Derby database and
  * catalog table tag is pid + UUID. Two lifetimes:
  *   - scoped ([[withDir]], [[withDerby]]): deleted when the body returns
  *     or throws. A gate that reads its scratch back collects the bounded
  *     result first ([[collectLocal]]);
  *   - until exit ([[untilExit]]): for the streaming end-state dirs that a
  *     returned frame reads lazily, deleted by one JVM shutdown hook.
  */
object Scratch {

  /** tmpfs when the host has one, else `java.io.tmpdir`. Streaming
    * checkpoint commits fsync every micro-batch; a gate that drains a
    * bounded source needs none of that durability (a production job points
    * its checkpoint at durable storage). */
  val base: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
    else Paths.get(System.getProperty("java.io.tmpdir"))
  }

  private val pid = ProcessHandle.current().pid()

  /** pid + UUID: unique across processes and across runs in one process. */
  def tag: String =
    s"${pid}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  private def fresh(prefix: String, under: Path): Path =
    Files.createTempDirectory(under, s"${prefix}_${pid}_")

  /** A fresh directory under [[base]], deleted when `body` returns or throws. */
  def withDir[A](prefix: String)(body: Path => A): A = {
    val dir = fresh(prefix, base)
    try body(dir) finally deleteTree(dir)
  }

  private val exitDirs = ConcurrentHashMap.newKeySet[Path]()
  sys.addShutdownHook(exitDirs.forEach(deleteTree(_)))

  /** A fresh directory under [[base]], deleted at JVM exit: `/dev/shm` is
    * RAM, and a long-lived JVM runs many gates. */
  def untilExit(prefix: String): Path = {
    val dir = fresh(prefix, base)
    exitDirs.add(dir)
    dir
  }

  /** Delete `dir` and everything under it, if it exists. */
  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      // Using.resource: Files.walk holds a directory handle until closed
      scala.util.Using.resource(Files.walk(dir))(
        _.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p)))

  /** A fresh in-memory Derby database; `body` gets its URL. The database is
    * dropped when `body` returns or throws. */
  def withDerby[A](name: String)(body: String => A): A = {
    val url = s"jdbc:derby:memory:${name}_$tag"
    DriverManager.getConnection(s"$url;create=true").close()
    try body(url)
    finally
      // Derby signals a successful in-memory drop with SQLState 08006
      try DriverManager.getConnection(s"$url;drop=true").close()
      catch { case e: SQLException if e.getSQLState == "08006" => }
  }

  /** A bounded result as a one-partition local frame with the same schema:
    * it no longer reads the scratch its plan scanned, which can then go. */
  def collectLocal(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(df.collect().toSeq, 1), df.schema)
  }

  /** Write `df` as the single parquet FILE `dst`: `coalesce(1)` into a
    * scratch dir beside `dst` (so the move is a rename on one file
    * system), then move the one part file to `dst`. `mtimeMillis` pins the
    * file's modification time, which a file stream source orders by. */
  def writeSingleParquet(df: DataFrame, dst: Path,
      mtimeMillis: Option[Long] = None): Unit = {
    val tmp = fresh(s"_tmp_${dst.getFileName}",
      Files.createDirectories(dst.toAbsolutePath.getParent))
    try {
      val out = tmp.resolve("out")
      df.coalesce(1).write.parquet(out.toString)
      // Using.resource: Files.list holds a directory handle until closed
      val parts = scala.util.Using.resource(Files.list(out))(
        _.toArray.map(_.toString)
          .filter(p => p.endsWith(".parquet") && p.contains("part-")))
      require(parts.length == 1,
        s"$dst: expected one part file, got ${parts.length}")
      Files.move(Paths.get(parts.head), dst, StandardCopyOption.REPLACE_EXISTING)
      mtimeMillis.foreach(ms => Files.setLastModifiedTime(dst, FileTime.fromMillis(ms)))
    } finally deleteTree(tmp)
  }
}
