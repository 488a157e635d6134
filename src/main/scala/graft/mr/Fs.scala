package graft.mr

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Scheme-agnostic filesystem access for everything the engine does
  * OUTSIDE a DataFrame read/write — existence markers, content
  * fingerprints, input sizes. The DataFrame read/write paths already
  * work on any Hadoop scheme (`file://`, `hdfs://`, `s3a://`);
  * `java.io.File` side-channels were the one place the engine bound
  * itself to the local FS (the reference is S3-native end-to-end,
  * /root/reference/s3_utils.go:24-69). Everything here resolves
  * through the active session's Hadoop configuration, so the same
  * code serves local runs and object stores.
  *
  * S3/S3A semantics assumptions, made explicit:
  *  - commit markers (graft.operators.IndexStore) are created AFTER
  *    their data is fully written; S3 has been strongly
  *    read-after-write and list-after-write consistent since 2020,
  *    so marker-gated reads need no rename-commit tricks;
  *  - nothing here renames — writes are overwrite-by-path, the
  *    discipline S3A requires (rename is copy+delete there);
  *  - fingerprints consume (name, size, mtime) from LIST results,
  *    which the object store serves consistently post-2020.
  */
object Fs {

  /** Root prefix for the persisted indexes
    * (graft.operators.IndexStore): `GRAFT_INDEX_ROOT` at launch — an
    * `s3a://bucket/prefix` on a cluster — defaulting to local /tmp.
    * Test-visible override so the no-rename harness can route index
    * builds through an instrumented filesystem scheme. */
  @volatile var overrideIndexRoot: Option[String] = None
  def indexRoot: String = overrideIndexRoot
    .orElse(sys.env.get("GRAFT_INDEX_ROOT")).getOrElse("/tmp")

  /** Collision-proof scratch-dir key for a corpus path: the FULL
    * path, sanitized to one filesystem-safe token (r7 verdict #4 —
    * `hashCode` keys carry a 32-bit silent-cross-contamination
    * hazard between corpora; the full path carries none and stays
    * human-debuggable in /tmp listings). */
  def pathKey(path: String): String =
    path.replaceAll("[^A-Za-z0-9._-]", "_").replaceAll("^_+", "")

  /** FileSystem for `path`'s scheme, bound to the active session's
    * Hadoop conf (credentials, endpoints) when one exists. */
  def resolve(path: String): (FileSystem, Path) = {
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    val p = new Path(path)
    (p.getFileSystem(conf), p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = resolve(path); fs.exists(p)
  }

  /** Create (or truncate) an empty marker object. */
  def touch(path: String): Unit = {
    val (fs, p) = resolve(path); fs.create(p, true).close()
  }

  /** File length in bytes; 0 when the path does not exist (the
    * java.io.File.length contract the chunk sizer relies on). */
  def len(path: String): Long = {
    val (fs, p) = resolve(path)
    if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
  }

  /** `name:size:mtime` of `path` (or of its direct children when it
    * is a directory), name-sorted, '|'-joined — the staleness
    * fingerprint the persisted-index roots key on. */
  def fingerprint(path: String): String = {
    val (fs, p) = resolve(path)
    // missing path → the java.io degradation ("name:0:0"), not a
    // raw Hadoop FNFE: index roots stay derivable on a
    // partially-generated corpus dir and fail later with a clear
    // read error instead
    if (!fs.exists(p)) return s"${p.getName}:0:0"
    val st = fs.getFileStatus(p)
    val files =
      if (st.isDirectory) fs.listStatus(p).sortBy(_.getPath.getName)
      else Array(st)
    files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .mkString("|")
  }
}
