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
  * The companion owns the series-file rule of every keyed dir layout,
  * at any depth: [[SeriesFileIndex.list]] names the series files and
  * decodes their tags, one per path level. This index serves the
  * one-level layouts read as one scan; the per-file layouts (nested
  * levels, columnar `name` dirs) read the same listing.
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

  /** The index over `files`, the leaf files listed under `roots`, of a
    * one-level keyed dir: the series files [[list]] finds, each keyed by
    * its one tag value.
    */
  def apply(roots: Seq[FileStatus], files: Seq[FileStatus], level: DirPartition): SeriesFileIndex =
    new SeriesFileIndex(roots.map(_.getPath), level.key, list(roots, files, Seq(level)).map { case (key, st) => key.head -> st })

  /** The series files among `files`, the leaf files listed under
    * `roots`, of a keyed dir whose paths hold one component per level —
    * `<level 1>/…/<level n>.<ext>` below a root directory (a root that
    * is itself a file is its own one-level path) — each with its tag
    * values in `levels` order, in path order.
    *
    * One rule for every depth: each path component passes Spark's
    * data-file rule, as in the listing Spark's own index makes, and the
    * file is not empty — it holds no rows, so its path is never decoded.
    * A directory level's key is its whole name; the leaf's is the stem
    * of its file name.
    */
  def list(roots: Seq[FileStatus], files: Seq[FileStatus], levels: Seq[DirPartition]): Seq[(Seq[String], FileStatus)] = {
    val scanned = roots.map(_.getPath).toSet
    // the last `n` path names of `p`, when the path `n` levels up is a root
    def below(p: Path, n: Int, names: List[String]): Option[List[String]] =
      if (n == 0) Some(names).filter(_ => scanned(p))
      else Option(p).flatMap(p => below(p.getParent, n - 1, p.getName :: names))
    for {
      st <- files
      names <- (if (scanned(st.getPath)) Some(List(st.getPath.getName)) else below(st.getPath, levels.length, Nil)).toSeq
      if names.lengthCompare(levels.length) == 0 && names.forall(isDataFile) && st.getLen > 0
    } yield {
      val stems = names.init :+ (names.last match { case Named(s) => s; case _ => "" })
      levels.zip(stems).map { case (level, s) => key(s, level.base64, st.getPath) } -> st
    }
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

  /** The tag value one path component encodes, base64-decoded when its
    * level says so. Decoding is the MIME decoder Spark's `unbase64`
    * uses (characters outside the alphabet are skipped), and the bytes
    * must be valid UTF-8.
    */
  private def key(encoded: String, base64: Boolean, file: Path): String =
    if (!base64) encoded
    else
      try StandardCharsets.UTF_8.newDecoder().decode(ByteBuffer.wrap(java.util.Base64.getMimeDecoder.decode(encoded))).toString
      catch {
        case e @ (_: IllegalArgumentException | _: CharacterCodingException) =>
          throw new IllegalArgumentException(s"series key $encoded of $file is not a base64-encoded UTF-8 key", e)
      }
}
