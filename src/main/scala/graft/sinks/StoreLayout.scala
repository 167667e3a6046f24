package graft.sinks

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** The point store's directory layout, and every change made to it.
  *
  * A store is `measurement=<m>/date=<yyyy-MM-dd>/part-*.parquet`, values
  * escaped as Spark's partition writer escapes them (`plc:1` lives in
  * `measurement=plc%3A1`), so Spark-written and directly written data share
  * one tree. Spark's listing skips names starting with `.` or `_`; every
  * state between two commits lives under such a name:
  *  - [[appendFile]] (`/write`, stream and bulk appends):
  *    `.part-<id>.inprogress`, renamed into place;
  *  - [[replace]] (compaction, DELETE, DROP SERIES, CQ rollups): rows written
  *    to `.date=X.next`, `date=X` renamed to `.date=X.old` (if there is one),
  *    `.next` renamed to `date=X` (the commit), `.old` deleted;
  *  - [[drop]]: renamed to `.<name>.dropped` (the commit), then deleted.
  * [[recover]] resolves what a crash at any step leaves. `replace`, `drop`
  * and `recover` run with no scan or other mutation in flight (the HTTP
  * node's store write lock); `appendFile` only adds a file, beside scans.
  * [[move]] and [[rmTree]] are the one rename and the one recursive delete
  * of the code base, and [[writeFile]] the one small-file replace: the
  * admin catalog's files and the vector index's commit point `CURRENT`
  * ([[VectorIndexStore]]).
  */
object StoreLayout {

  /** One live `measurement=…/date=…` directory. */
  final case class Partition(measurement: String, date: LocalDate, dir: File)

  def measurementDir(store: String, m: String): File =
    new File(store, ExternalCatalogUtils.getPartitionPathString("measurement", m))

  def partitionDir(store: String, m: String, date: String): File =
    new File(measurementDir(store, m), ExternalCatalogUtils.getPartitionPathString("date", date))

  private[sinks] def children(d: File): Seq[File] = Option(d.listFiles()).fold(Seq.empty[File])(_.toSeq)

  /** The unescaped value of a visible `key=value` directory. */
  private def value(f: File, key: String): Option[String] =
    if (f.isDirectory && f.getName.startsWith(key + "="))
      Some(ExternalCatalogUtils.unescapePathName(f.getName.substring(key.length + 1)))
    else None

  /** The day of a partition directory, if its value is an ISO day. */
  private def day(f: File): Option[LocalDate] =
    value(f, "date").flatMap(v => scala.util.Try(LocalDate.parse(v)).toOption)

  /** Measurement names, unescaped and sorted. */
  def measurements(store: String): Seq[String] =
    children(new File(store)).flatMap(value(_, "measurement")).sorted

  /** The day partitions of one measurement, oldest first. */
  def partitions(store: String, m: String): Seq[Partition] =
    children(measurementDir(store, m)).flatMap(f => day(f).map(Partition(m, _, f)))
      .sortBy(_.date.toEpochDay)

  def partitions(store: String): Seq[Partition] =
    measurements(store).flatMap(partitions(store, _))

  /** The committed data files of a directory: the files Spark lists. */
  def dataFiles(dir: File): Seq[File] = children(dir).filter(f => f.isFile && visible(f))

  private def visible(f: File) = !f.getName.startsWith(".") && !f.getName.startsWith("_")

  /** Add one file to `dir`: `write` fills a hidden temporary file, which
    * is then renamed into place. Returns the committed file. */
  def appendFile(dir: File)(write: java.nio.file.Path => Unit): File = {
    dir.mkdirs()
    val id = java.util.UUID.randomUUID()
    val (tmp, fin) = (new File(dir, s".part-$id.inprogress"), new File(dir, s"part-$id.snappy.parquet"))
    write(tmp.toPath)
    move(tmp, fin)
    fin
  }

  private def hidden(dir: File, tag: String): File =
    new File(dir.getParentFile, s".${dir.getName}.$tag")

  /** Swap `rows` in for the files of `dir` (or a new `dir`). `rows` may
    * read `dir`: they are written out in full before `dir` moves. */
  def replace(dir: File, rows: DataFrame): Unit = {
    val (next, old) = (hidden(dir, "next"), hidden(dir, "old"))
    rows.write.mode("overwrite").parquet(next.getPath)
    rmTree(old) // a leftover beside a live dir is garbage (see recover)
    if (dir.exists()) move(dir, old)
    move(next, dir)
    rmTree(old)
  }

  /** Remove a partition or measurement directory; false if it is absent. */
  def drop(dir: File): Boolean = dir.exists() && {
    val gone = hidden(dir, "dropped")
    rmTree(gone)
    move(dir, gone)
    rmTree(gone)
    true
  }

  /** Resolve every leftover of an interrupted change. A `.X.old` beside a
    * live `X` is deleted (its swap committed), and renamed back without one
    * (it did not). `.X.next`, `.X.dropped`, `.part-*.inprogress` and the
    * day directories they leave empty are deleted. Any other visible
    * directory in a measurement is not a day partition — Spark would read
    * it as one with a junk `date` — so it is renamed to `.X.stray` and kept
    * out of every read. */
  def recover(store: String): Unit = {
    def tagged(f: File, tag: String) = f.getName.startsWith(".") && f.getName.endsWith(s".$tag")
    children(new File(store)).filter(tagged(_, "dropped")).foreach(rmTree)
    children(new File(store)).filter(value(_, "measurement").isDefined).foreach { mdir =>
      children(mdir).filter(tagged(_, "old")).foreach { f =>
        val live = new File(mdir, f.getName.stripPrefix(".").stripSuffix(".old"))
        if (live.exists()) rmTree(f) else move(f, live)
      }
      children(mdir).foreach { f =>
        if (tagged(f, "next") || tagged(f, "dropped")) rmTree(f)
        else if (day(f).isDefined) {
          children(f).filter(c =>
            c.getName.startsWith(".part-") && c.getName.endsWith(".inprogress")).foreach(rmTree)
          if (children(f).isEmpty) rmTree(f)
        }
        else if (f.isDirectory && visible(f)) move(f, hidden(f, "stray"))
      }
    }
  }

  /** Replace the content of the small file `f` in one step: `content` is
    * written to a hidden temporary file beside it, which is renamed over
    * `f`. A crash leaves the old content or the new, never an empty or
    * partial file; at worst a hidden temporary file stays behind. */
  def writeFile(f: File, content: String): Unit = {
    f.getParentFile.mkdirs()
    val tmp = new File(f.getParentFile, s".${f.getName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.writeString(tmp.toPath, content)
      move(tmp, f)
    } finally tmp.delete(): Unit
  }

  /** Rename in one step, or throw. Replaces a file; never a non-empty dir. */
  def move(from: File, to: File): Unit =
    Files.move(from.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE): Unit

  def rmTree(f: File): Unit = {
    if (f.isDirectory) children(f).foreach(rmTree)
    f.delete(): Unit
  }
}
