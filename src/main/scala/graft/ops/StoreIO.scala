package graft.ops

/** The filesystem seam under [[IndexStore]] (VERDICT r18 Next #1).
  *
  * Everything the manifest protocol touches — manifests, `_HEAD`,
  * props, arm stats, the tag log, data-file listings, vacuum deletes,
  * compaction adopt-moves — goes through ONE small interface, so a
  * ledger or ANN store can live where the data lives: the local
  * filesystem (default, byte-identical to the pre-seam behavior),
  * or any Hadoop `FileSystem` scheme (hdfs://, s3a://, gs://, ...)
  * via [[StoreIO.HadoopStoreIO]]. Spark itself already reads/writes
  * the data files through the same Hadoop layer, so routing the
  * manifest IO through it makes the store URI-transparent end to end.
  *
  * A handle is rooted at ONE store directory and takes STORE-RELATIVE
  * paths ("_manifest/v3.list", "codes/cell=7/part-0.parquet") — the
  * same relative vocabulary the manifests themselves use, so no caller
  * ever concatenates scheme-specific separators.
  *
  * The contract each operation must honor (what the OCC protocol
  * actually rests on — see [[IndexStore.CommitPrimitive]]):
  *
  *  - [[StoreIO.createExclusive]] is the ONLY primitive that must be
  *    a true put-if-absent: of N racing writers exactly one returns
  *    true. Local: the CAS routes through the active
  *    [[IndexStore.commitPrimitive]] (hard-link EEXIST, spec-swappable
  *    to the simulated object-store primitive). HDFS: namenode-atomic
  *    exclusive create. Object-store schemes: a conditional-put
  *    register over a plain write — JVM-exact, cross-process only
  *    when the deployment wires the store's native conditional PUT
  *    (S3 If-None-Match); the protocol's tolerance of a torn body
  *    under exactly these semantics is what
  *    [[IndexStore.CommitPrimitive.SimulatedPutIfAbsent]] proves.
  *  - [[StoreIO.writeAtomic]] must never expose a TORN file to a
  *    reader: old content, new content, or (non-atomic-rename schemes
  *    only) a momentary absence — every reader of these files treats
  *    absence as a safe fallback (`_HEAD` is a hint maxed against the
  *    manifest listing; missing props/stats degrade to legacy/runtime
  *    paths), so absence is benign where torn bytes would not be.
  *  - Everything else (list/read/delete/move/mkdirs) needs only
  *    ordinary per-operation visibility: the manifest CAS, not the
  *    filesystem, is the correctness boundary.
  */
private[graft] trait StoreIO {
  /** Stable identity for lock interning and the storeId fallback —
    * canonical absolute path locally, the normalized URI remotely. */
  def canonicalKey: String
  /** Whether an OS-level advisory `FileChannel` lock can fence other
    * PROCESSES on this storage (local filesystems only). Where false,
    * the JVM-level lock still serializes in-process writers and the
    * manifest CAS remains the cross-process correctness boundary —
    * the documented object-store contract. */
  def supportsFileLock: Boolean
  /** Absolute form of a store-relative path, in this scheme's
    * vocabulary — what Spark readers/writers and the OS lock consume. */
  def resolve(rel: String): String
  def readBytes(rel: String): Option[Array[Byte]]
  def writeAtomic(rel: String, body: Array[Byte]): Unit
  def appendBytes(rel: String, body: Array[Byte]): Unit
  def createExclusive(rel: String, body: Array[Byte]): Boolean
  def exists(rel: String): Boolean
  def isDirectory(rel: String): Boolean
  /** Immediate child NAMES under `rel` (empty when absent or a file). */
  def list(rel: String): Seq[String]
  /** Paths (relative to `rel`) of every FILE under `rel`, recursive. */
  def listFilesRecursive(rel: String): Seq[String]
  def size(rel: String): Long
  def delete(rel: String): Boolean
  def deleteRecursive(rel: String): Unit
  def mkdirs(rel: String): Unit
  def move(srcRel: String, dstRel: String): Unit
}

private[graft] object StoreIO {

  /** Spec hook: route LOCAL paths through [[HadoopStoreIO]] (over the
    * Hadoop local filesystem) so the FULL store lifecycle can be
    * proven through the non-local implementation without a running
    * HDFS — the IO layer under test is the real Hadoop `FileSystem`
    * API, exactly the layer an hdfs:// or s3a:// deployment runs on.
    * Global like [[IndexStore.fenceDisabledForTest]]; suites run
    * sequentially. */
  @volatile private[graft] var forceHadoopForTest: Boolean = false

  /** Hadoop configuration source for remote handles. The default
    * reads the ACTIVE SparkSession's hadoopConfiguration when one
    * exists — credentials/endpoints (s3a keys, defaultFS) flow to the
    * manifest IO exactly as they do to Spark's own data IO with zero
    * wiring — and falls back to a vanilla Configuration (sufficient
    * for file:// and default-config HDFS) in session-less unit code.
    * Deployments with unusual topology can still override. */
  @volatile private[graft] var hadoopConf: () => org.apache.hadoop.conf.Configuration =
    () => org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  def forDir(dir: String): StoreIO =
    if (dir.contains("://"))
      new HadoopStoreIO(dir)
    else if (forceHadoopForTest)
      new HadoopStoreIO("file://" + new java.io.File(dir).getAbsolutePath)
    else new LocalStoreIO(dir)

  /** Default implementation: `java.nio` against the local filesystem —
    * byte-for-byte the pre-seam behavior (hashes unchanged). */
  private final class LocalStoreIO(root: String) extends StoreIO {
    private def f(rel: String) =
      if (rel.isEmpty) new java.io.File(root) else new java.io.File(root, rel)
    val canonicalKey: String = new java.io.File(root).getCanonicalPath
    val supportsFileLock = true
    def resolve(rel: String): String = f(rel).getPath
    def readBytes(rel: String): Option[Array[Byte]] = {
      val p = f(rel)
      if (!p.exists()) None
      else scala.util.Try(java.nio.file.Files.readAllBytes(p.toPath)).toOption
    }
    def writeAtomic(rel: String, body: Array[Byte]): Unit = {
      val target = f(rel)
      Option(target.getParentFile).foreach(_.mkdirs())
      val tmp = new java.io.File(target.getParentFile,
        s"${target.getName}.tmp${ProcessHandle.current().pid()}" +
          s"-${Thread.currentThread().getId}")
      java.nio.file.Files.write(tmp.toPath, body)
      java.nio.file.Files.move(tmp.toPath, target.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    def appendBytes(rel: String, body: Array[Byte]): Unit = {
      Option(f(rel).getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.write(f(rel).toPath, body,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    }
    def createExclusive(rel: String, body: Array[Byte]): Boolean =
      IndexStore.commitPrimitive.createExclusive(f(rel).toPath, body)
    def exists(rel: String): Boolean = f(rel).exists()
    def isDirectory(rel: String): Boolean = f(rel).isDirectory
    def list(rel: String): Seq[String] =
      Option(f(rel).listFiles()).toSeq.flatten.map(_.getName)
    def listFilesRecursive(rel: String): Seq[String] = {
      val base = f(rel)
      def walk(x: java.io.File): Seq[java.io.File] =
        if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(x)
      if (!base.exists()) Nil
      else walk(base).map(x => base.toPath.relativize(x.toPath).toString)
    }
    def size(rel: String): Long = f(rel).length()
    def delete(rel: String): Boolean = f(rel).delete()
    def deleteRecursive(rel: String): Unit = {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.foreach(rm)
        x.delete(); ()
      }
      rm(f(rel))
    }
    def mkdirs(rel: String): Unit = { f(rel).mkdirs(); () }
    def move(srcRel: String, dstRel: String): Unit = {
      Option(f(dstRel).getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.move(f(srcRel).toPath, f(dstRel).toPath)
      ()
    }
  }

  /** Remote schemes (and the forced-local spec mode) through the
    * Hadoop `FileSystem` API — the layer s3a/gs/abfs/hdfs all
    * implement, and the same one Spark's own parquet IO uses. */
  private final class HadoopStoreIO(root: String) extends StoreIO {
    import org.apache.hadoop.fs.{FileSystem, Path}
    private val rootPath = new Path(root)
    private val fs: FileSystem = rootPath.getFileSystem(hadoopConf()) match {
      // unwrap the checksummed local FS: its physical `.crc` shadow
      // files would pollute the directory for java.nio readers of the
      // same store (and block empty-dir prunes); raw IS the Hadoop
      // FileSystem API, minus the client-side checksum layer real
      // clusters do server-side anyway
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRaw
      case other => other
    }
    private def p(rel: String) =
      if (rel.isEmpty) rootPath else new Path(rootPath, rel)
    // for file:// (the spec mode) the key must equal LocalStoreIO's,
    // so lock interning and storeId fallbacks are mode-stable
    val canonicalKey: String =
      if ("file" == fs.getUri.getScheme)
        new java.io.File(rootPath.toUri.getPath).getCanonicalPath
      else fs.makeQualified(rootPath).toString
    // advisory FileChannel locks exist only on local disks; for
    // file:// (the spec mode) the underlying path IS local, so keep
    // the cross-process fence there
    val supportsFileLock: Boolean =
      "file" == fs.getUri.getScheme
    /** Schemes with no atomic rename and no exclusive create — the
      * conditional-put register is the commit path there (see
      * [[StoreIO]] scaladoc). */
    private val objectStore = Set("s3", "s3a", "s3n", "gs", "oss",
      "abfs", "abfss", "wasb", "wasbs", "cos", "swift")
      .contains(fs.getUri.getScheme)
    def resolve(rel: String): String =
      if (supportsFileLock) p(rel).toUri.getPath // local: plain path for Spark/FileChannel
      else fs.makeQualified(p(rel)).toString
    def readBytes(rel: String): Option[Array[Byte]] =
      scala.util.Try {
        val in = fs.open(p(rel))
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          buf.toByteArray
        } finally in.close()
      }.toOption
    def writeAtomic(rel: String, body: Array[Byte]): Unit =
      if (objectStore) {
        // a single-object PUT is atomic on every object store: readers
        // see the old object or the new, never torn bytes
        val out = fs.create(p(rel), true)
        try out.write(body) finally out.close()
      } else if (supportsFileLock) {
        // local-backed (the spec mode): true atomic replace via
        // java.nio on the resolved path — Hadoop's FileContext
        // Rename.OVERWRITE throws through ChecksumFs on an existing
        // destination, so it cannot stand in for ATOMIC_MOVE here
        val target = new java.io.File(resolve(rel))
        Option(target.getParentFile).foreach(_.mkdirs())
        val tmp = new java.io.File(target.getParentFile,
          s"${target.getName}.tmp${ProcessHandle.current().pid()}" +
            s"-${Thread.currentThread().getId}")
        java.nio.file.Files.write(tmp.toPath, body)
        java.nio.file.Files.move(tmp.toPath, target.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      } else {
        // HDFS: stage, drop, rename — the FileSystem API has no atomic
        // replace, so a racing reader can observe a momentary ABSENCE
        // (never torn bytes). Every consumer of these files treats
        // absence as a safe fallback by contract ([[StoreIO]] scaladoc:
        // `_HEAD` is maxed against the manifest listing; missing
        // props/stats degrade to legacy/runtime paths).
        val target = p(rel)
        fs.mkdirs(target.getParent)
        val tmp = new Path(target.getParent,
          s"${target.getName}.tmp${ProcessHandle.current().pid()}" +
            s"-${Thread.currentThread().getId}")
        val out = fs.create(tmp, true)
        try out.write(body) finally out.close()
        fs.delete(target, false)
        fs.rename(tmp, target)
        ()
      }
    def appendBytes(rel: String, body: Array[Byte]): Unit = {
      // callers append only under the writer lock (the tag log), so a
      // read-modify-write is race-free and works on every scheme —
      // FileSystem.append is unsupported on object stores and the
      // checksummed local FS alike
      val merged = readBytes(rel).getOrElse(Array.empty[Byte]) ++ body
      writeAtomic(rel, merged)
    }
    def createExclusive(rel: String, body: Array[Byte]): Boolean =
      if (supportsFileLock) {
        // the resolved path IS local: delegate to the active local
        // primitive (atomic hard-link EEXIST / spec-swapped simulated
        // PUT) — Hadoop's local create(path, overwrite=false) is
        // check-then-create, NOT atomic, so routing the CAS through it
        // would make the spec mode WEAKER against unfenced racers than
        // the layer it stands in for; everything around the CAS still
        // exercises the Hadoop FileSystem API
        IndexStore.commitPrimitive.createExclusive(
          new java.io.File(resolve(rel)).toPath, body)
      } else if (objectStore) {
        // conditional-put register (JVM-exact; a deployment swaps in
        // the store's native If-None-Match PUT — the protocol under
        // exactly these semantics is SimulatedPutIfAbsent-proven).
        val key = fs.makeQualified(p(rel)).toString
        // NEVER evicted mid-flight (unlike the lock map): dropping a
        // key a live writer holds would let a second writer
        // double-commit the same version — the one failure the CAS
        // exists to prevent. Deletes THROUGH this handle release keys;
        // one short string per commit otherwise (same contract as
        // SimulatedPutIfAbsent).
        if (fs.exists(p(rel))) { HadoopStoreIO.putRegister.add(key); false }
        else if (!HadoopStoreIO.putRegister.add(key)) false
        else {
          val out = fs.create(p(rel), true)
          try out.write(body) finally out.close()
          true
        }
      } else {
        // namenode-atomic exclusive create (HDFS); the body streams
        // after the name is claimed, so a concurrent reader can see a
        // SHORT manifest — exactly the window the trailing #commit
        // marker covers (headVersion refuses unmarked manifests above
        // the hint)
        fs.mkdirs(p(rel).getParent)
        try {
          val out = fs.create(p(rel), false)
          try out.write(body) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.IOException if fs.exists(p(rel)) => false
        }
      }
    def exists(rel: String): Boolean = fs.exists(p(rel))
    def isDirectory(rel: String): Boolean =
      scala.util.Try(fs.getFileStatus(p(rel)).isDirectory).getOrElse(false)
    def list(rel: String): Seq[String] =
      if (!fs.exists(p(rel))) Nil
      else scala.util.Try(fs.listStatus(p(rel)).toSeq
        .map(_.getPath.getName)
        // the checksummed local FS shadows every file with a .crc
        // sibling that java.io listings never saw — hide them so the
        // two impls agree on what a directory contains
        .filterNot(n => n.startsWith(".") && n.endsWith(".crc")))
        .getOrElse(Nil)
    def listFilesRecursive(rel: String): Seq[String] = {
      val base = p(rel)
      val basePath = fs.makeQualified(base).toUri.getPath
      // per-directory listStatus wrapped in Try: a directory DELETED
      // between discovery and listing (a concurrent Spark write
      // cleaning its _temporary tree) reads as empty — the same
      // tolerance java.io.File.listFiles gives via null; the bulk
      // fs.listFiles(recursive) iterator instead THROWS
      // FileNotFoundException mid-walk and killed unfenced racers
      def walk(d: Path): Seq[String] =
        scala.util.Try(fs.listStatus(d).toSeq).getOrElse(Nil).flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else {
            val name = st.getPath.getName
            if (name.startsWith(".") && name.endsWith(".crc")) Nil
            else Seq(fs.makeQualified(st.getPath).toUri.getPath
              .stripPrefix(basePath).stripPrefix("/"))
          }
        }
      if (!fs.exists(base)) Nil else walk(base)
    }
    def size(rel: String): Long =
      scala.util.Try(fs.getFileStatus(p(rel)).getLen).getOrElse(0L)
    def delete(rel: String): Boolean = {
      if (objectStore)
        HadoopStoreIO.putRegister.remove(fs.makeQualified(p(rel)).toString)
      scala.util.Try(fs.delete(p(rel), false)).getOrElse(false)
    }
    def deleteRecursive(rel: String): Unit = {
      if (objectStore) {
        val prefix = fs.makeQualified(p(rel)).toString
        HadoopStoreIO.putRegister.removeIf(k =>
          k == prefix || k.startsWith(prefix + "/"))
      }
      scala.util.Try(fs.delete(p(rel), true)); ()
    }
    def mkdirs(rel: String): Unit = { fs.mkdirs(p(rel)); () }
    def move(srcRel: String, dstRel: String): Unit = {
      fs.mkdirs(p(dstRel).getParent)
      fs.rename(p(srcRel), p(dstRel))
      ()
    }
  }

  private object HadoopStoreIO {
    /** The conditional-put register for object-store schemes (see
      * [[IndexStore.CommitPrimitive.SimulatedPutIfAbsent]] — same
      * semantics; it lives for the JVM). */
    private val putRegister =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  }
}
