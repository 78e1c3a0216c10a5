package graft.sources.mergetree

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}

/** Filesystem facade for the MergeTree WRITE tier (and the generic
  * read branch): the staged-write / atomic-rename / watermark protocol
  * of CTAS, INSERT, OPTIMIZE, mutations, and partition lifecycle runs
  * either against the local filesystem directly ([[NioTreeFs]] — the
  * fast default for plain and `file:` paths) or through the Hadoop
  * `FileSystem` API ([[HadoopTreeFs]] — `hdfs:`, `s3a:`, any scheme the
  * Hadoop configuration registers), so MergeTree trees can live on
  * shared cluster storage, which is where the reference keeps its
  * entire data plane (S3-backed web disks).
  *
  * Rename semantics: writer-side collision safety leans on rename
  * refusing an existing destination (local and HDFS honor this;
  * object stores emulate rename by copy+delete). Reader-side
  * VISIBILITY does not lean on rename at all (r13): the root `.index`
  * manifest is the tree's single commit point — [[TableFiles]] readers
  * on every backend list from it, writers finish every mutation by
  * atomically swapping it ([[TreeFs.publish]]) under the tree lock, so
  * a mid-rename death (even a torn copy+delete on s3a) leaves debris
  * that is never listed, the same commit discipline as
  * Iceberg/Delta's metadata-file swap. Block allocation reads the RAW
  * directory so debris cannot collide with future part names.
  *
  * Instances are Serializable — the executor-parallel part writers
  * capture one in the task closure (the Hadoop branch ships its
  * Configuration via Writable serialization, Spark's own trick).
  */
private[mergetree] sealed trait TreeFs extends Serializable {
  def join(base: String, child: String): String
  def parent(path: String): String
  def name(path: String): String
  def mkdirs(path: String): Unit
  def exists(path: String): Boolean
  def isDir(path: String): Boolean
  def write(path: String, bytes: Array[Byte]): Unit
  /** Atomic small-file publish — the MANIFEST commit point: readers of
    * the target see the old content or the new, never a torn mix.
    * Local: write-temp + ATOMIC_MOVE(REPLACE). Object stores: a single
    * PUT (atomic on close). */
  def publish(path: String, bytes: Array[Byte]): Unit
  def readBytes(path: String): Array[Byte]

  /** Atomic-intent rename. Returns false when the destination already
    * exists — a task-retry race was lost (both writers produced
    * identical content; the caller deletes its duplicate). */
  def moveInto(src: String, dst: String): Boolean
  def deleteTree(path: String): Unit

  /** (name, isDir, size, mtimeMs) of direct children; Nil if missing. */
  def listStatus(path: String): Seq[(String, Boolean, Long, Long)]

  /** Relative paths of every regular file under `root`. */
  def walkFiles(root: String): Seq[String]
}

/** Plain-local implementation — byte-for-byte the behavior the write
  * tier always had (java.nio, ATOMIC_MOVE, ENOTEMPTY-as-lost-race). */
private[mergetree] object NioTreeFs extends TreeFs {
  import java.nio.file.{Files, Paths, StandardCopyOption}
  def join(base: String, child: String): String = s"$base/$child"
  def parent(path: String): String =
    Paths.get(path).toAbsolutePath.normalize.getParent.toString
  def name(path: String): String =
    Paths.get(path).toAbsolutePath.normalize.getFileName.toString
  def mkdirs(path: String): Unit = { Files.createDirectories(Paths.get(path)); () }
  def exists(path: String): Boolean = Files.exists(Paths.get(path))
  def isDir(path: String): Boolean = Files.isDirectory(Paths.get(path))
  def write(path: String, bytes: Array[Byte]): Unit = {
    Files.write(Paths.get(path), bytes); ()
  }
  def publish(path: String, bytes: Array[Byte]): Unit = {
    val dst = Paths.get(path)
    // temp name is `<name>.pub_<id>` — for the `.index` manifest that
    // is exactly the `.index.pub_` prefix the manifest filters exclude
    // (advisor r14: a prepended dot made it `..index.pub_`, which the
    // filters missed, so a crash between write and move left debris a
    // later manifest carried as a root entry)
    val tmp = dst.resolveSibling(
      s"${dst.getFileName}.pub_${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, bytes)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING); ()
  }
  def readBytes(path: String): Array[Byte] = Files.readAllBytes(Paths.get(path))
  def moveInto(src: String, dst: String): Boolean =
    try {
      Files.move(Paths.get(src), Paths.get(dst), StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      // Linux rename(2) onto an existing NON-EMPTY dir is ENOTEMPTY,
      // surfaced as a bare FileSystemException — same meaning: lost
      case _: java.nio.file.FileSystemException
          if Files.isDirectory(Paths.get(dst)) => false
    }
  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => { Files.deleteIfExists(q); () })
      finally s.close()
    }
  }
  def listStatus(path: String): Seq[(String, Boolean, Long, Long)] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty).toSeq
      .map(f => (f.getName, f.isDirectory, f.length(), f.lastModified()))
  def walkFiles(root: String): Seq[String] = {
    val base = Paths.get(root)
    if (!Files.isDirectory(base)) Seq.empty
    else {
      val out = Seq.newBuilder[String]
      val s = Files.walk(base)
      try s.forEach(p => if (Files.isRegularFile(p)) out += base.relativize(p).toString)
      finally s.close()
      out.result()
    }
  }
}

/** Hadoop Configuration made Serializable via its Writable form —
  * Spark's own SerializableConfiguration pattern (that class is
  * private[spark]). */
private[mergetree] final class SerializableHadoopConf(
    @transient private var conf: Configuration) extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

/** Hadoop-FS implementation. Paths carry their scheme (`hdfs://…`,
  * `s3a://…`); `file:`/plain paths resolve to the RAW local filesystem
  * (no `.crc` checksum sidecars — those would pollute the part tree's
  * listing). FileSystem instances resolve per call through Hadoop's own
  * cache — cheap, and correct across schemes. */
private[mergetree] final class HadoopTreeFs(
    conf: SerializableHadoopConf) extends TreeFs {
  private def fs(p: Path): FileSystem = p.getFileSystem(conf.value) match {
    case l: LocalFileSystem => l.getRaw
    case other => other
  }
  def join(base: String, child: String): String =
    new Path(base, child).toString
  def parent(path: String): String = new Path(path).getParent.toString
  def name(path: String): String = new Path(path).getName
  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    require(fs(p).mkdirs(p), s"mkdirs failed: $path")
  }
  def exists(path: String): Boolean = { val p = new Path(path); fs(p).exists(p) }
  def isDir(path: String): Boolean = {
    val p = new Path(path)
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }
  def write(path: String, bytes: Array[Byte]): Unit = {
    val p = new Path(path)
    val out = fs(p).create(p, true)
    try out.write(bytes) finally out.close()
  }
  // create(overwrite)+close is one atomic PUT on object stores (the
  // manifest's main remote home); HDFS overwrites in place — its brief
  // absent/partial window falls back to the raw-walk listing, which is
  // only reachable mid-write under the tree lock
  def publish(path: String, bytes: Array[Byte]): Unit = write(path, bytes)
  def readBytes(path: String): Array[Byte] = {
    val p = new Path(path)
    val in = fs(p).open(p)
    try {
      val len = fs(p).getFileStatus(p).getLen
      require(len <= Int.MaxValue, s"$path too large to buffer")
      val b = new Array[Byte](len.toInt)
      in.readFully(0, b)
      b
    } finally in.close()
  }
  def moveInto(src: String, dst: String): Boolean = {
    val d = new Path(dst)
    val f = fs(d)
    // the exists-probe guards implementations whose rename would merge
    // INTO an existing directory (raw local) or copy (object stores);
    // HDFS returns false on its own. TOCTOU window = two retries of
    // the same task racing, both carrying identical content.
    if (f.exists(d)) false
    else {
      val ok = f.rename(new Path(src), d)
      if (!ok && f.exists(d)) false
      else { require(ok, s"rename failed: $src -> $dst"); true }
    }
  }
  def deleteTree(path: String): Unit = {
    val p = new Path(path)
    val f = fs(p)
    if (f.exists(p)) { f.delete(p, true); () }
  }
  def listStatus(path: String): Seq[(String, Boolean, Long, Long)] = {
    val p = new Path(path)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(s =>
      (s.getPath.getName, s.isDirectory, s.getLen, s.getModificationTime))
  }
  def walkFiles(root: String): Seq[String] = {
    val p = new Path(root)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else {
      // manual recursion over listStatus: the recursive listFiles()
      // materializes LocatedFileStatus, whose permission loading
      // requires a `file`-scheme URI and breaks custom local-backed
      // schemes
      val out = Seq.newBuilder[String]
      def rec(dir: Path, prefix: String): Unit =
        f.listStatus(dir).foreach { s =>
          val rel =
            if (prefix.isEmpty) s.getPath.getName
            else s"$prefix/${s.getPath.getName}"
          if (s.isDirectory) rec(s.getPath, rel) else out += rel
        }
      if (f.getFileStatus(p).isDirectory) rec(p, "")
      out.result()
    }
  }
}

private[mergetree] object TreeFs {

  /** The endpoint's scheme when it is a REMOTE Hadoop filesystem —
    * `file:`/plain paths and http(s) (read-only web disks) are None. */
  def hadoopScheme(endpoint: String): Option[String] = {
    val i = endpoint.indexOf("://")
    if (i <= 0) None
    else endpoint.substring(0, i).toLowerCase match {
      case "http" | "https" | "file" => None
      case s => Some(s)
    }
  }

  private def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  def serializableConf(): SerializableHadoopConf =
    new SerializableHadoopConf(sessionConf())

  /** `spark.graft.mergeTreeFs = hadoop` routes even local/`file:` tree
    * writes through the Hadoop FileSystem API (test/diagnostic knob —
    * proves the protocol is FS-portable without a real remote FS). */
  private def forced(): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .exists(graft.service.Settings.MergeTreeFs(_) == "hadoop")

  /** Resolve a write-side endpoint to (normalized dir, fs). Remote
    * schemes route through Hadoop; `file:`/plain normalize to a local
    * path on the nio fast path (or the Hadoop local FS under
    * `spark.graft.mergeTreeFs`). The normalized dir doubles as the tree-lock
    * key. */
  def forWrite(endpoint: String): (String, TreeFs) =
    hadoopScheme(endpoint) match {
      case Some(_) =>
        (endpoint.stripSuffix("/"), new HadoopTreeFs(serializableConf()))
      case None =>
        val local = TableFiles.localPath(endpoint)
        if (forced()) (local, new HadoopTreeFs(serializableConf()))
        else (local, NioTreeFs)
    }
}
