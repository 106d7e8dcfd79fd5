package graft.sources

/** Pointer-swapped state-dir plumbing shared by the versioned parquet
  * state stores (the `Streams` merge/CMS stores, the url frontier):
  * every path goes through the Hadoop `FileSystem` API so the stores
  * run against whatever filesystem the cluster mounts — HDFS, object
  * storage, or local disk — and the `_current` pointer is COMMITTED by
  * rename: write `_current.tmp`, rename over the old pointer (atomic
  * on HDFS and local FS; object stores degrade to copy+delete of one
  * tiny object). Readers therefore never see a half-written pointer,
  * and a crash mid-state-write leaves the pointer on the previous
  * complete snapshot.
  */
object StatePointer {

  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.active.sparkContext
      .hadoopConfiguration

  def fsFor(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(hadoopConf)

  /** Does `path` exist on its filesystem? */
  def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    fsFor(p).exists(p)
  }

  /** Fully-qualified path of `<targetDir>/<state>` (scheme preserved). */
  def stateDirPath(targetDir: String, state: String): String =
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(targetDir), state).toString

  /** Name of the state dir `_current` points at, if the pointer exists. */
  def currentStateName(targetDir: String): Option[String] =
    readFile(targetDir, "_current")

  /** Contents of the small text file `<dir>/<name>`, if it exists. */
  def readFile(dir: String, name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), name)
    val fs = fsFor(p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  /** VACUUM a versioned state store: delete every `state_*` dir except
    * the `keep` most recent AND the one `_current` points at. Recency
    * is CREATION order (modification time, name tie-break), so every
    * naming scheme layered on the pointer store — numeric batches,
    * `state_del_<b>` takedowns, `state_v<N>` frontier versions — ages
    * out uniformly. Returns the deleted state names.
    */
  def vacuum(targetDir: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val root = new org.apache.hadoop.fs.Path(targetDir)
    val fs = fsFor(root)
    if (!fs.exists(root)) return Seq.empty
    val current = currentStateName(targetDir)
    val states = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("state_"))
      .sortBy(s => (s.getModificationTime, s.getPath.getName))
    val doomed = states.dropRight(keep)
      .filterNot(s => current.contains(s.getPath.getName))
    doomed.foreach(s => fs.delete(s.getPath, true))
    doomed.map(_.getPath.getName)
  }

  /** Commit `_current` -> `state`: temp write + rename over the old
    * pointer, so a reader never sees a half-written pointer file.
    */
  def writePointer(targetDir: String, state: String): Unit =
    writeFile(targetDir, "_current", state, "_current.tmp")

  /** Replace `<dir>/<name>` with `content` by writing `<dir>/<tmpName>`
    * and renaming it over the old file: a reader sees the old content
    * or the new, never a torn write.
    */
  def writeFile(dir: String, name: String, content: String,
      tmpName: String): Unit = {
    val root0 = new org.apache.hadoop.fs.Path(dir)
    val fs = fsFor(root0)
    fs.mkdirs(root0)
    val root = fs.makeQualified(root0)
    val tmp = new org.apache.hadoop.fs.Path(root, tmpName)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(root.toUri, hadoopConf)
      .rename(tmp, new org.apache.hadoop.fs.Path(root, name),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}
