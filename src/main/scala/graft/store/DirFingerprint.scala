package graft.store

import org.apache.hadoop.fs.{FileStatus, Path}

/** Total bytes and latest modification time of every file under a
  * directory: the identity of one generation of the data written there.
  * Rewriting a store or a parquet source changes it, so session memos keyed
  * on it train afresh and serving indexes rebuild instead of answering from
  * the previous generation.
  *
  * The walk uses `listStatus`, not `listFiles`: on the local file system
  * `listFiles` builds a `LocatedFileStatus` per file, whose permissions
  * Hadoop loads by running a shell command per file (about 230 ms for the
  * 40 files of a 300-file project's store, against 2.5 ms here), and the
  * serving faces fingerprint their store on every request.
  */
object DirFingerprint {
  def of(hadoopConf: org.apache.hadoop.conf.Configuration,
         dir: String): (Long, Long) = {
    val path = new Path(dir)
    val fs = path.getFileSystem(hadoopConf)
    def files(p: Path): Iterator[FileStatus] = fs.listStatus(p).iterator.flatMap { s =>
      if (s.isDirectory) files(s.getPath) else Iterator(s)
    }
    files(path).foldLeft((0L, 0L)) { case ((bytes, mtime), f) =>
      (bytes + f.getLen, math.max(mtime, f.getModificationTime))
    }
  }
}
