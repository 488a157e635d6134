package graft.mr

import java.io.{ByteArrayOutputStream, FileNotFoundException, IOException}
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** An in-JVM Hadoop `FileSystem` with OBJECT-STORE semantics —
  * `objstore://` — the second scheme the storage posture is proved
  * on (r6 "what's missing #1"). The sandbox has no network, no MinIO
  * binary, and no hadoop-aws jar (a real `s3a://` cannot even
  * classload), so this emulates what S3-family stores actually do,
  * faithfully enough to catch every local-FS assumption:
  *
  *   - FLAT KEY SPACE: objects are `key → bytes`; directories do not
  *     exist. "Directory" status is inferred from key prefixes (plus
  *     empty dir-marker objects for `mkdirs`, exactly S3A's
  *     behavior).
  *   - ATOMIC PUT: a created object becomes visible only when its
  *     output stream CLOSES — readers never observe partial writes
  *     (S3 PUT semantics). `append` is unsupported, as on S3.
  *   - RENAME IS COPY+DELETE: per-object copy then delete, counted
  *     in [[ObjectStore.renamedObjects]] so specs can assert how
  *     much data-path traffic would pay the S3A rename tax.
  *   - STRONG CONSISTENCY: list-after-write and read-after-write are
  *     immediately consistent (S3 post-2020), which is the
  *     consistency level IndexStore's marker-then-pointer commit
  *     assumes.
  *
  * In-memory bytes mean any code path that escapes to `java.io.File`
  * on a path string fails loudly here — the exact bug class a
  * second scheme exists to catch.
  */
object ObjectStore {
  final case class Obj(bytes: Array[Byte], mtime: Long)
  /** bucket-wide key → object map, shared by every FS instance in
    * the JVM (Hadoop caches FileSystem instances per scheme).
    * SORTED (skip list) so prefix-existence probes are one
    * `ceilingKey` instead of an O(keys) scan per list/status call
    * (r8 verdict #8): keys under a prefix are contiguous in string
    * order, so the first key ≥ "pre/" starts with "pre/" iff any
    * key does. */
  val objects = new java.util.concurrent.ConcurrentSkipListMap[String, Obj]()
  /** empty-directory markers created by mkdirs (S3A writes these). */
  val dirMarkers = new java.util.concurrent.ConcurrentSkipListSet[String]()
  /** objects moved through rename — the copy+delete tax meter. */
  val renamedObjects = new AtomicLong(0L)

  def clear(): Unit = { objects.clear(); dirMarkers.clear(); renamedObjects.set(0L) }
}

class ObjectStoreFileSystem extends FileSystem {
  import ObjectStore._

  private var uri: URI = URI.create("objstore:///")
  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    uri = URI.create("objstore:///")
  }
  override def getScheme: String = "objstore"
  override def getUri: URI = uri
  override def getWorkingDirectory: Path = new Path("objstore:///")
  override def setWorkingDirectory(d: Path): Unit = ()

  /** Path → flat key ("/a/b/c"), the S3 object key with a leading /. */
  private def key(p: Path): String = {
    val raw = p.toUri.getPath
    val k = if (raw.isEmpty) "/" else raw
    if (k.length > 1 && k.endsWith("/")) k.dropRight(1) else k
  }
  private def qualify(k: String) = new Path("objstore://" + (if (k.startsWith("/")) "" else "/") + k)

  private def isPrefixOfAny(k: String): Boolean = {
    val pre = if (k == "/") "/" else k + "/"
    // sorted index: the first key/marker >= pre starts with pre iff
    // ANY does (keys under a prefix are contiguous in string order)
    val ok = objects.ceilingKey(pre)
    if (ok != null && ok.startsWith(pre)) return true
    if (dirMarkers.contains(k)) return true
    val dk = dirMarkers.ceiling(pre)
    dk != null && dk.startsWith(pre)
  }

  override def getFileStatus(p: Path): FileStatus = {
    val k = key(p)
    val o = objects.get(k)
    if (o != null)
      new FileStatus(o.bytes.length.toLong, false, 1, 32L * 1024 * 1024,
        o.mtime, qualify(k))
    else if (k == "/" || isPrefixOfAny(k))
      new FileStatus(0L, true, 1, 0L, 0L, qualify(k))
    else throw new FileNotFoundException(s"objstore: no object at $k")
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    val k = key(p)
    if (objects.containsKey(k)) return Array(getFileStatus(p))
    if (!(k == "/" || isPrefixOfAny(k)))
      throw new FileNotFoundException(s"objstore: no prefix $k")
    val pre = if (k == "/") "/" else k + "/"
    val children = scala.collection.mutable.SortedSet[String]()
    objects.keySet.forEach { ok =>
      if (ok.startsWith(pre)) {
        val rest = ok.substring(pre.length)
        val seg = rest.takeWhile(_ != '/')
        if (seg.nonEmpty) children += pre + seg
      }
    }
    dirMarkers.forEach { dk =>
      if (dk.startsWith(pre)) {
        val rest = dk.substring(pre.length)
        val seg = rest.takeWhile(_ != '/')
        if (seg.nonEmpty) children += pre + seg
      }
    }
    children.toArray.map(c => getFileStatus(qualify(c)))
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    dirMarkers.add(key(p)); true
  }

  override def create(
      p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val k = key(p)
    if (!overwrite && objects.containsKey(k))
      throw new IOException(s"objstore: object exists (no overwrite): $k")
    // ATOMIC PUT: bytes land in the map only on close()
    val buf = new ByteArrayOutputStream() {
      override def close(): Unit = {
        objects.put(k, Obj(toByteArray, System.currentTimeMillis()))
      }
    }
    new FSDataOutputStream(buf, statistics)
  }

  override def append(p: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("objstore: append is not a thing on object stores")

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    val o = objects.get(key(p))
    if (o == null) throw new FileNotFoundException(s"objstore: no object at ${key(p)}")
    val bytes = o.bytes
    new FSDataInputStream(new FSInputStream {
      private var pos = 0L
      override def seek(to: Long): Unit = {
        if (to < 0 || to > bytes.length) throw new IOException(s"bad seek $to")
        pos = to
      }
      override def getPos: Long = pos
      override def seekToNewSource(t: Long): Boolean = false
      override def read(): Int =
        if (pos >= bytes.length) -1
        else { val b = bytes(pos.toInt) & 0xff; pos += 1; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (pos >= bytes.length) return -1
        val n = math.min(len, bytes.length - pos.toInt)
        System.arraycopy(bytes, pos.toInt, b, off, n)
        pos += n
        n
      }
      override def available(): Int = (bytes.length - pos).toInt
    })
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val sk = key(src)
    val dk = key(dst)
    val so = objects.get(sk)
    if (so != null) {
      // rename onto an existing FILE object must FAIL (Hadoop FS
      // contract; r7 advice): nesting src under a file-as-directory
      // would mask exactly the committer bug class this scheme
      // exists to catch
      if (objects.containsKey(dk)) return false
      val target =
        if (isPrefixOfAny(dk)) dk + "/" + src.getName
        else dk
      // single object: server-side copy then delete
      objects.put(target, so.copy(mtime = System.currentTimeMillis()))
      objects.remove(sk)
      renamedObjects.incrementAndGet()
      true
    } else if (isPrefixOfAny(sk)) {
      // directory onto an existing file object: same contract failure
      if (objects.containsKey(dk)) return false
      // "directory": every object under the prefix is copied+deleted —
      // the O(objects) rename tax S3A pays
      val pre = sk + "/"
      val dstRoot =
        if (isPrefixOfAny(dk) || dirMarkers.contains(dk)) dk + "/" + src.getName
        else dk
      val keys = new java.util.ArrayList[String]()
      objects.keySet.forEach(k0 => if (k0.startsWith(pre)) keys.add(k0))
      keys.forEach { k0 =>
        val o = objects.remove(k0)
        if (o != null) {
          objects.put(dstRoot + "/" + k0.substring(pre.length), o)
          renamedObjects.incrementAndGet()
        }
      }
      val dms = new java.util.ArrayList[String]()
      dirMarkers.forEach(d => if (d == sk || d.startsWith(pre)) dms.add(d))
      dms.forEach { d =>
        dirMarkers.remove(d)
        dirMarkers.add(
          if (d == sk) dstRoot else dstRoot + "/" + d.substring(pre.length))
      }
      true
    } else false
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    val k = key(p)
    if (objects.remove(k) != null) { dirMarkers.remove(k); return true }
    if (!isPrefixOfAny(k)) return dirMarkers.remove(k)
    val pre = k + "/"
    var hasChild = false
    objects.keySet.forEach(k0 => if (k0.startsWith(pre)) hasChild = true)
    if (hasChild && !recursive)
      throw new IOException(s"objstore: non-recursive delete of non-empty prefix $k")
    val keys = new java.util.ArrayList[String]()
    objects.keySet.forEach(k0 => if (k0.startsWith(pre)) keys.add(k0))
    keys.forEach(objects.remove(_))
    val dms = new java.util.ArrayList[String]()
    dirMarkers.forEach(d => if (d == k || d.startsWith(pre)) dms.add(d))
    dms.forEach(dirMarkers.remove(_))
    true
  }
}
