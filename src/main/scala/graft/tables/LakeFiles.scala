package graft.tables

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}

/** File primitives the Delta, Iceberg and Hudi writers share: the
  * put-if-absent publish every commit rests on (a Delta log entry, an
  * Iceberg `v<N>.metadata.json`, a Hudi timeline instant) and the
  * recursive listing of staged output.
  */
private[graft] object LakeFiles {

  // serializes the exists-check + publish window for in-process writers
  private val publishLock = new Object

  /** Put-if-absent of `target` with ATOMIC CONTENT: the bytes are
    * written to a dot-temp file beside it, then linked into place, so
    * a concurrent reader never lists a partially written file. On a
    * local filesystem link(2) is both content-atomic and exclusive
    * ACROSS processes: it fails if the target exists, unlike
    * rename(2), which would silently replace a racing process's file.
    * Other filesystems fall back to rename, which is content-atomic
    * but put-if-absent only best-effort without a locking store. The
    * JVM-wide lock serializes in-process writers (local[n]).
    *
    * Returns false when `target` already exists: the caller lost an
    * optimistic-concurrency race and should re-read and retry. A real
    * I/O error propagates.
    */
  def putIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Boolean =
    publishLock.synchronized {
      !fs.exists(target) && {
        val tmp = new Path(target.getParent,
          s"._commit_${java.util.UUID.randomUUID().toString.take(8)}.json.tmp")
        try {
          val out = fs.create(tmp, false)
          try out.write(bytes) finally out.close()
          fs match {
            case _: LocalFileSystem | _: RawLocalFileSystem =>
              try {
                java.nio.file.Files.createLink(
                  new java.io.File(target.toUri.getPath).toPath,
                  new java.io.File(tmp.toUri.getPath).toPath)
                true
              } catch { case _: java.nio.file.FileAlreadyExistsException => false }
            case _ => fs.rename(tmp, target)
          }
        } finally fs.delete(tmp, false) // harmless once renamed away
      }
    }

  /** Every file under `dir` (recursively) whose name ends with `ext`. */
  def listByExt(fs: FileSystem, dir: Path, ext: String = ".parquet"): Seq[Path] = {
    val b = Seq.newBuilder[Path]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.endsWith(ext)) b += s.getPath
    }
    b.result()
  }

  /** `file`'s path below `base`, compared as URI paths: listings return
    * scheme-qualified paths ("file:/...") while `base` is usually
    * unqualified, so a string prefix strip would never match.
    */
  def relativize(base: Path, file: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val f = file.toUri.getPath
    require(f.startsWith(b + "/"), s"$file not under $base")
    f.drop(b.length + 1)
  }
}
