package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, StandardCharsets}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The file index of a filename-keyed dir layout (one file per series,
  * the series key in the file name — the reference's `dir` layout,
  * kukur/source/csv/csv.py:393 and kukur/source/arrow.py:205): one
  * partition per series file, whose single string value is the tag
  * decoded from the file name once, on the driver.
  *
  * The tag is a partition column of the scan, so a predicate on it
  * (`===`, `isin`, a string cast of either) is a partition filter:
  * [[listFiles]] hands the scan only the files whose key passes, and no
  * row ever decodes its path.
  *
  * Immutable: built by [[SourceFrames]] from the listing that also
  * forms its fingerprint, and replaced, never refreshed, when that
  * listing changes.
  */
final class SeriesFileIndex private (roots: Seq[Path], tag: String, series: Seq[(String, FileStatus)]) extends FileIndex {

  override val partitionSchema: StructType = StructType(Seq(StructField(tag, StringType)))

  private val partitions =
    series.map { case (key, st) => PartitionDirectory(InternalRow(UTF8String.fromString(key)), Array(st)) }

  override def rootPaths: Seq[Path] = roots

  override def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    partitionFilters.reduceOption(And) match {
      case None => partitions
      case Some(filter) =>
        // the scan passes only filters over partition columns, and the
        // tag is the only one
        val keep = Predicate.createInterpreted(filter.transform { case _: AttributeReference =>
          BoundReference(0, StringType, nullable = true)
        })
        partitions.filter(p => keep.eval(p.values))
    }

  /** The series files, in path order. */
  private[sources] def files: Seq[FileStatus] = series.map(_._2)

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.getLen).sum
}

object SeriesFileIndex {

  /** The index over `files`, the leaf files listed under `roots`. The
    * series files are the data files directly under a root directory
    * (or a root that is itself a file) — exactly the files Spark's own
    * index scans for a plain load of that path. Empty files hold no
    * rows, so they get no partition and their names are never decoded.
    */
  def apply(roots: Seq[FileStatus], files: Seq[FileStatus], level: DirPartition): SeriesFileIndex = {
    val scanned = roots.map(_.getPath).toSet
    val series = files.filter { st =>
      (scanned(st.getPath) || scanned(st.getPath.getParent)) && isDataFile(st.getPath.getName) && st.getLen > 0
    }
    new SeriesFileIndex(roots.map(_.getPath), level.key, series.map(st => seriesKey(st.getPath.getName, level.base64) -> st))
  }

  /** Spark's data-file rule (PartitioningAwareFileIndex.isDataPath and
    * HadoopFSUtils.shouldFilterOutPathName): names starting with `.`,
    * or with `_` unless they hold a `=`, and in-flight `._COPYING_`
    * copies are not data.
    */
  private def isDataFile(name: String): Boolean =
    !(name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) || name.endsWith("._COPYING_"))

  /** Stem and extension: the extension is the alphanumeric run after
    * the last dot. A name without one has the empty stem.
    */
  private val Named = "(?s)(.+)\\.[A-Za-z0-9]+".r

  /** The series key a file name encodes: its stem, base64-decoded when
    * the layout says so. Decoding is the MIME decoder Spark's `unbase64`
    * uses (characters outside the alphabet are skipped), and the bytes
    * must be valid UTF-8.
    */
  private def seriesKey(name: String, base64: Boolean): String = {
    val stem = name match {
      case Named(s) => s
      case _        => ""
    }
    if (!base64) stem
    else
      try StandardCharsets.UTF_8.newDecoder().decode(ByteBuffer.wrap(java.util.Base64.getMimeDecoder.decode(stem))).toString
      catch {
        case e @ (_: IllegalArgumentException | _: CharacterCodingException) =>
          throw new IllegalArgumentException(s"series file name $name is not a base64-encoded UTF-8 key", e)
      }
  }
}
