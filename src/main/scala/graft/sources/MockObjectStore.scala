package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileNotFoundException, IOException, InputStream}
import java.net.URI

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, FSDataOutputStream, Path, PositionedReadable, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** In-JVM object store: a Hadoop `FileSystem` serving
  * `mocks3://<bucket>/<key>` URIs from a per-bucket in-memory key→bytes
  * map — the environmental test seam for the S3-upload half of the
  * reference (`ncd/athena.py:92-113` uploads `.json.gz` objects to a
  * bucket; its own test seam is the disk-backed `ncd/athena_mock.py`).
  *
  * The point is NOT to emulate S3's wire protocol — it is that every
  * sink/DDL/MSCK code path in this library reaches storage through the
  * Hadoop FileSystem API with an arbitrary `scheme://bucket/...` URI,
  * exactly how s3a:// is consumed on a real cluster (the s3a JARs are
  * not on this classpath). Running the FULL ingest against
  * `mocks3://bucket/...` therefore proves the library never shortcuts to
  * `java.io.File` semantics: writes run the committer's whole
  * mkdirs/create/list/rename protocol, DDL locations carry the bucket
  * authority, and MSCK partition discovery lists through the FileSystem.
  *
  * Usage: `conf.set("fs.mocks3.impl", classOf[MockObjectStore].getName)`
  * (or the `spark.hadoop.fs.mocks3.impl` Spark conf), then use
  * `mocks3://any-bucket/...` anywhere a Hadoop URI is accepted.
  */
class MockObjectStore extends FileSystem {
  import MockObjectStore._

  private var bucketUri: URI = _
  private var workingDir: Path = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    require(name.getAuthority != null && name.getAuthority.nonEmpty,
      s"mocks3 URI must carry a bucket authority: $name")
    bucketUri = URI.create(s"${name.getScheme}://${name.getAuthority}")
    workingDir = new Path(bucketUri.toString + "/")
    setConf(conf)
  }

  override def getUri: URI = bucketUri
  override def getScheme: String = "mocks3"
  override def getWorkingDirectory: Path = workingDir
  override def setWorkingDirectory(dir: Path): Unit =
    workingDir = makeQualified(dir)

  private def store: Bucket = bucket(bucketUri.getAuthority)

  /** Canonical key: the URI path, no trailing slash, "/" for the root. */
  private def keyOf(p: Path): String = {
    val k = makeQualified(p).toUri.getPath
    if (k == null || k.isEmpty || k == "/") "/"
    else if (k.endsWith("/")) k.dropRight(1)
    else k
  }

  private def parentOf(key: String): String = {
    val i = key.lastIndexOf('/')
    if (i <= 0) "/" else key.substring(0, i)
  }

  private def qualify(key: String): Path =
    new Path(bucketUri.toString + (if (key == "/") "/" else key))

  private def status(key: String, e: Entry): FileStatus = e match {
    case Obj(bytes, mtime) =>
      new FileStatus(bytes.length.toLong, false, 1,
        DefaultBlockSize, mtime, qualify(key))
    case Dir(mtime) =>
      new FileStatus(0L, true, 1, 0L, mtime, qualify(key))
  }

  override def getFileStatus(f: Path): FileStatus = {
    val k = keyOf(f)
    store.synchronized {
      if (k == "/") return status(k, Dir(0L))
      store.entries.get(k) match {
        case Some(e) => status(k, e)
        case None => throw new FileNotFoundException(s"$bucketUri$k")
      }
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val k = keyOf(f)
    store.synchronized {
      store.entries.get(k) match {
        case Some(o: Obj) => Array(status(k, o))
        case Some(_: Dir) | None if k == "/" || store.entries.contains(k) =>
          val prefix = if (k == "/") "/" else k + "/"
          store.entries.iterator.collect {
            case (ck, e) if ck.startsWith(prefix) &&
                !ck.substring(prefix.length).contains('/') =>
              status(ck, e)
          }.toArray.sortBy(_.getPath.toString)
        case _ => throw new FileNotFoundException(s"$bucketUri$k")
      }
    }
  }

  private def mkdirKeyWithParents(key: String): Unit = {
    // object-store style: materialize the chain of ancestor "dirs"
    var k = key
    while (k != "/") {
      store.entries.get(k) match {
        case Some(_: Obj) =>
          throw new IOException(s"cannot mkdir over object $bucketUri$k")
        case Some(_: Dir) => // exists; ancestors do too
          return
        case None =>
          store.entries.put(k, Dir(System.currentTimeMillis()))
      }
      k = parentOf(k)
    }
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    val k = keyOf(f)
    store.synchronized {
      if (k != "/") mkdirKeyWithParents(k)
      true
    }
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val k = keyOf(f)
    store.synchronized {
      store.entries.get(k) match {
        case Some(_: Dir) =>
          throw new FileAlreadyExistsException(s"directory exists: $k")
        case Some(_: Obj) if !overwrite =>
          throw new FileAlreadyExistsException(s"object exists: $k")
        case _ =>
          mkdirKeyWithParents(parentOf(k))
      }
    }
    val buf = new ByteArrayOutputStream() {
      override def close(): Unit = {
        super.close()
        store.synchronized {
          store.entries.put(k, Obj(toByteArray, System.currentTimeMillis()))
        }
      }
    }
    new FSDataOutputStream(buf, statistics)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val k = keyOf(f)
    val bytes = store.synchronized {
      store.entries.get(k) match {
        case Some(Obj(b, _)) => b
        case Some(_: Dir) => throw new IOException(s"is a directory: $k")
        case None => throw new FileNotFoundException(s"$bucketUri$k")
      }
    }
    new FSDataInputStream(new SeekableBytes(bytes))
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val ks = keyOf(src)
    var kd = keyOf(dst)
    store.synchronized {
      if (!store.entries.contains(ks)) return false
      // POSIX mv semantics the committer relies on: renaming onto an
      // existing directory moves the source INTO it
      if (store.entries.get(kd).exists(_.isInstanceOf[Dir]) || kd == "/") {
        kd = (if (kd == "/") "" else kd) + "/" + src.getName
      }
      if (store.entries.contains(kd)) return false
      // HDFS contract: rename(/a, /a/b) — a directory into its own
      // subtree — is rejected, not applied; accepting it would move the
      // children "into" a destination that lives among them
      if (kd == ks || kd.startsWith(ks + "/")) return false
      mkdirKeyWithParents(parentOf(kd))
      // snapshot the subtree BEFORE inserting the destination entry, so
      // the prefix filter can never pick up the destination itself
      val prefix = ks + "/"
      val moved = store.entries.keys.filter(_.startsWith(prefix)).toList
      store.entries.remove(ks).get match {
        case o: Obj => store.entries.put(kd, o)
        case d: Dir =>
          store.entries.put(kd, d)
          moved.foreach { k =>
            val e = store.entries.remove(k).get
            store.entries.put(kd + k.substring(ks.length), e)
          }
      }
      true
    }
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val k = keyOf(f)
    store.synchronized {
      store.entries.get(k) match {
        case None => false
        case Some(_: Obj) => store.entries.remove(k); true
        case Some(_: Dir) =>
          val prefix = k + "/"
          val children = store.entries.keys.filter(_.startsWith(prefix)).toList
          if (children.nonEmpty && !recursive)
            throw new IOException(s"directory not empty: $k")
          children.foreach(store.entries.remove)
          store.entries.remove(k)
          true
      }
    }
  }

  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("mocks3 does not support append")
}

object MockObjectStore {
  private val DefaultBlockSize = 32L * 1024 * 1024

  private sealed trait Entry
  private final case class Obj(bytes: Array[Byte], mtime: Long) extends Entry
  private final case class Dir(mtime: Long) extends Entry

  private final class Bucket {
    val entries: mutable.TreeMap[String, Entry] = mutable.TreeMap.empty
  }

  // one store per bucket for the JVM's lifetime, so separate FileSystem
  // instances (Hadoop caches per scheme+authority+ugi) agree on contents
  private val buckets = new java.util.concurrent.ConcurrentHashMap[String, Bucket]()
  private def bucket(name: String): Bucket =
    buckets.computeIfAbsent(name, _ => new Bucket)

  /** Byte-array input with the seek/pread surface FSDataInputStream
    * requires.
    */
  private final class SeekableBytes(bytes: Array[Byte]) extends InputStream
      with Seekable with PositionedReadable {
    private val in = new ByteArrayInputStream(bytes)
    private var pos = 0L

    override def read(): Int = {
      val r = in.read(); if (r >= 0) pos += 1; r
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val r = in.read(b, off, len); if (r > 0) pos += r; r
    }
    override def seek(newPos: Long): Unit = {
      if (newPos < 0 || newPos > bytes.length)
        throw new IOException(s"seek out of range: $newPos")
      in.reset(); in.skip(newPos); pos = newPos
    }
    override def getPos: Long = pos
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int = {
      if (position >= bytes.length) return -1
      val n = math.min(length, bytes.length - position.toInt)
      System.arraycopy(bytes, position.toInt, buffer, offset, n)
      n
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit = {
      if (read(position, buffer, offset, length) < length)
        throw new IOException("readFully past end of object")
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}
