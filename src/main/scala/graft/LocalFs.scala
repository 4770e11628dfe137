package graft

/** Local-filesystem housekeeping shared by the sinks, the query scratch
  * dirs and the harness mains.
  */
private[graft] object LocalFs {

  /** Delete `f` and everything below it; a missing path is a no-op.
    * `listFiles` returns null on an I/O error or when a concurrent cleaner
    * (e.g. a stream's checkpoint manager removing its own temp files)
    * races the walk, so a null listing is treated as empty.
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Write `df` as ONE parquet file at `dest` (the testdata layout:
    * `<table>.parquet` is a file, not a directory), replacing whatever is
    * there: `coalesce(1)` into a sibling dir, move its single
    * `part-*.parquet` onto `dest`, drop the dir. The dir's `_` prefix hides
    * it from a file source reading the same directory. Returns `dest`.
    */
  def writeSingleParquet(df: org.apache.spark.sql.DataFrame, dest: String): java.io.File = {
    val out = new java.io.File(dest)
    val tmp = new java.io.File(out.getParentFile, s"_${out.getName}.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written for $dest"))
    deleteRecursively(out)
    java.nio.file.Files.move(part.toPath, out.toPath)
    deleteRecursively(tmp)
    out
  }
}
