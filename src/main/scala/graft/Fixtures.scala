package graft

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

/** Where the queries keep what they build once and what they rewrite on
  * every call.
  *
  * [[once]] holds artifacts that depend only on a dataset (indexes, stored
  * models, stream input files) under [[cacheRoot]], keyed by a fingerprint
  * of the dataset's files, so a dataset regenerated in place gets fresh
  * artifacts instead of stale ones. A build fills a private temporary
  * directory that is published by one atomic rename, so an artifact
  * directory either does not exist or is complete. Builds of one artifact
  * are serialised inside the JVM and across JVMs by a lock on a sibling
  * lock file; a build may itself build other artifacts. Clear the cache
  * with `rm -rf /tmp/graft_cache` (it sits under `java.io.tmpdir`).
  *
  * [[scratch]] holds what a query deletes or overwrites on every call
  * (round-trip files, stream checkpoints and sinks) under a directory
  * private to this JVM, removed at normal exit, so two JVMs never clobber
  * each other's files. */
private[graft] object Fixtures {

  val cacheRoot = new File(System.getProperty("java.io.tmpdir"), "graft_cache")

  /** The cache directory of dataset dir `d`: its name plus a hash of every
    * file's relative path, size and mtime. A metadata walk; no data is read. */
  def key(d: String): File = {
    val base = new File(d)
    val buf = new StringBuilder
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
      else if (!f.getName.startsWith(".") && f.getName != "_SUCCESS")
        buf.append(base.toPath.relativize(f.toPath)).append('|')
          .append(f.length).append('|').append(f.lastModified).append('\n')
    walk(base)
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(buf.toString.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    new File(cacheRoot, s"${base.getName}_$fp")
  }

  /** The path of artifact `name` of dataset `d`, running `build(path)` first
    * if it has not been published yet. `build` must create `path`. */
  def once(d: String, name: String)(build: String => Unit): String = {
    val dir = new File(key(d), name)
    if (!dir.isDirectory) locked(new File(dir.getParentFile, s".$name.lock")) {
      if (!dir.isDirectory) {
        val tmp = Files.createTempDirectory(dir.getParentFile.toPath, s".$name-")
        try {
          build(tmp.resolve(name).toString)
          Files.move(tmp.resolve(name), dir.toPath, StandardCopyOption.ATOMIC_MOVE)
        } finally deleteTree(tmp.toFile)
      }
    }
    dir.getPath
  }

  // A FileChannel lock is held for the whole JVM, and a second lock on the
  // same file from this JVM throws, so threads queue on a monitor first.
  private val monitors = new ConcurrentHashMap[String, AnyRef]

  private def locked(lockFile: File)(body: => Unit): Unit =
    monitors.computeIfAbsent(lockFile.getPath, _ => new AnyRef).synchronized {
      lockFile.getParentFile.mkdirs()
      val ch = FileChannel.open(lockFile.toPath, StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try { ch.lock(); body } finally ch.close()
    }

  private lazy val scratchRoot: File = {
    val root = Files.createTempDirectory("graft_scratch-").toFile
    sys.addShutdownHook(deleteTree(root))
    root
  }

  /** An empty path `name` under this JVM's scratch directory: whatever an
    * earlier call left there is deleted first. */
  def scratch(name: String): String = {
    val f = new File(scratchRoot, name)
    deleteTree(f)
    f.getPath
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
