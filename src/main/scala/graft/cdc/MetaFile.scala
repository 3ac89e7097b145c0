package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException,
  StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The commit-point files: the table manifest and its versioned records,
  * the group root and its lock, and a stream's start offset. Each is a
  * small UTF-8 text file that is created, replaced and read only here.
  *
  * A replace writes the new text to a temp file beside the target, then
  * renames it over the target in one step, so a reader sees either the old
  * text or the new, never a gap and never a mix.
  *   - On the local filesystem (the resolved `FileSystem`'s scheme is
  *     `file`) that rename is `Files.move(ATOMIC_MOVE)`, a POSIX rename(2).
  *     Hadoop's `FileContext.rename(OVERWRITE)` is not atomic there: it
  *     deletes the target before renaming and moves the `.crc` sidecar as a
  *     second step. Local reads go through `java.nio` too and never consult
  *     a `.crc` sidecar, so a stale one left by an older checksummed writer
  *     is harmless.
  *   - Elsewhere the rename is `FileContext.rename(OVERWRITE)`, atomic on
  *     HDFS. Object stores, which have neither an atomic rename nor an
  *     exclusive create, are not supported.
  *
  * Nothing is fsynced: a commit point is durable once the OS flushes it.
  */
private[graft] object MetaFile {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The local file behind `p` when `p` resolves to the local filesystem. */
  private def localFile(fs: FileSystem, p: Path): Option[java.nio.file.Path] =
    if (fs.getUri.getScheme == "file")
      Some(new java.io.File(fs.makeQualified(p).toUri.getPath).toPath)
    else None

  /** The text at `p`; None only when the file does not exist. */
  def read(spark: SparkSession, p: Path): Option[String] = {
    val fs = fsOf(spark, p)
    localFile(fs, p) match {
      case Some(f) =>
        try Some(new String(Files.readAllBytes(f), UTF_8))
        catch { case _: NoSuchFileException => None }
      case None =>
        try {
          val in = fs.open(p)
          try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
        } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** Atomically replace (or first create) `p` with `text`. */
  def replace(spark: SparkSession, p: Path, text: String): Unit = {
    val fs = fsOf(spark, p)
    val tmp = new Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    localFile(fs, p) match {
      case Some(f) =>
        val t = localFile(fs, tmp).get
        Files.createDirectories(f.getParent)
        try {
          Files.write(t, text.getBytes(UTF_8))
          Files.move(t, f, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        } finally Files.deleteIfExists(t)
      case None =>
        val os = fs.create(tmp, true)
        try os.write(text.getBytes(UTF_8)) finally os.close()
        FileContext.getFileContext(p.toUri,
          spark.sparkContext.hadoopConfiguration)
          .rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  /** Create `p` holding `text` only if it does not exist yet; true iff this
    * call created it. Hadoop's `create(p, overwrite = false)` is an
    * exists-check-then-create on the local filesystem, so two racing
    * callers could both win (observed: two writers both claimed v1 of a
    * fresh table). Locally the create is `CREATE_NEW` (POSIX
    * O_CREAT|O_EXCL); elsewhere `create(false)` is atomic server-side.
    */
  def createExclusive(spark: SparkSession, p: Path, text: String): Boolean = {
    val fs = fsOf(spark, p)
    localFile(fs, p) match {
      case Some(f) =>
        Files.createDirectories(f.getParent)
        try {
          Files.write(f, text.getBytes(UTF_8),
            StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
          true
        } catch { case _: FileAlreadyExistsException => false }
      case None =>
        try {
          val os = fs.create(p, false)
          try os.write(text.getBytes(UTF_8)) finally os.close()
          true
        } catch {
          case e: java.io.IOException => if (fs.exists(p)) false else throw e
        }
    }
  }
}
