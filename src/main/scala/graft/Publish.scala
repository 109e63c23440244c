package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths}

import org.apache.hadoop.fs.{FileAlreadyExistsException => HadoopExists, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** How a file the program writes becomes visible: write it aside under a
  * writer-unique name, then publish it with one create-once marker. A
  * reader that finds no marker (or an empty one) sees nothing, so a
  * crash or a second writer never exposes a partial result.
  */
private[graft] object Publish {

  /** Creates `path` holding `content`, or throws
    * `FileAlreadyExistsException` when it exists. On HDFS and object
    * stores `create(overwrite=false)` is atomic. On a local FS it is an
    * exists-check followed by an open, so two racers could both "win"
    * and interleave content; there the content goes to a writer-unique
    * hidden sibling first and is `link(2)`ed to `path`, which is
    * kernel-atomic, fails with EEXIST for every racer but one, and shows
    * the whole content the instant the name exists.
    */
  def marker(fs: FileSystem, path: Path, content: String): Unit = fs match {
    case _: LocalFileSystem | _: RawLocalFileSystem =>
      val m = Paths.get(path.toUri.getPath)
      val staged = m.resolveSibling(s".marker-${token()}")
      Files.write(staged, content.getBytes(UTF_8))
      try Files.createLink(m, staged)
      finally Files.deleteIfExists(staged)
    case _ =>
      val out = try fs.create(path, false)
        catch { case _: HadoopExists => throw new FileAlreadyExistsException(path.toString) }
      try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** The trimmed content of marker `path`; None when it is missing or
    * still empty (the HDFS create→close window).
    */
  def read(fs: FileSystem, path: Path): Option[String] =
    try {
      val in = fs.open(path)
      val c = try new String(in.readAllBytes(), UTF_8).trim finally in.close()
      Option(c).filter(_.nonEmpty)
    } catch { case _: java.io.FileNotFoundException => None }

  /** Identity of `dir/anchor`: md5 of its path, length and mtime, so a
    * regenerated source never serves a layout derived from the old one.
    */
  def key(s: SparkSession, dir: String, anchor: String): String = {
    val p = new Path(dir, anchor)
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"${st.getPath}:${st.getLen}:${st.getModificationTime}".getBytes(UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** ready-marker path → published layout directory, per JVM. */
  private val layouts = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The layout `write` derives from `dir/anchor`, written at most once
    * per anchor identity ([[key]]) under `spark.graft.events.normRoot`
    * (default the JVM tmpdir; on a cluster it must be storage every
    * executor reads). `write` fills `graft_<name>_<key>.<token>`; the
    * marker `graft_<name>_<key>.ready` names the winning directory. A
    * writer that loses the race deletes its copy and serves the
    * winner's, unless the winner's content has not landed yet. Returns
    * the published directory.
    */
  def derived(s: SparkSession, dir: String, anchor: String, name: String)(
      write: String => Unit): String = {
    val root = new Path(s.conf.get("spark.graft.events.normRoot",
      System.getProperty("java.io.tmpdir")))
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val base = s"graft_${name}_${key(s, dir, anchor)}"
    val ready = new Path(root, s"$base.ready")
    def published = read(fs, ready).map(new Path(root, _)).filter(fs.exists).map(_.toString)
    Option(layouts.get(ready.toString)).getOrElse {
      val path = published.getOrElse {
        val out = new Path(root, s"$base.${token()}")
        write(out.toString)
        try { marker(fs, ready, out.getName); out.toString }
        catch { case _: FileAlreadyExistsException =>
          published.map { winner => fs.delete(out, true); winner }.getOrElse(out.toString)
        }
      }
      Option(layouts.putIfAbsent(ready.toString, path)).getOrElse(path)
    }
  }

  /** `body` run over a fresh temp directory, which is deleted with all
    * it holds afterwards, also when `body` throws.
    */
  def scratch[T](prefix: String)(body: String => T): T = {
    import scala.jdk.CollectionConverters._
    val d = Files.createTempDirectory(prefix)
    try body(d.toString)
    finally Files.walk(d).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
  }

  /** A short random name part that makes a writer's path unique. */
  def token(): String = java.util.UUID.randomUUID().toString.substring(0, 8)
}
