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
}
