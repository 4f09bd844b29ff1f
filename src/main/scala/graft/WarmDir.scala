package graft

/** Warm-up dir resolution, shared by Bench (streaming warm-up canary) and
  * `Dev time`/`Dev profile` (JIT warm-up run). Distinctness compares
  * normalized real paths: a trailing slash, relative spelling or symlinked
  * prefix of the timed dir must not pass as a different warm-up source and
  * turn the timed run into a second, cache-warm execution.
  */
object WarmDir {
  private def norm(p: String): java.nio.file.Path = {
    val abs = java.nio.file.Paths.get(p).toAbsolutePath.normalize
    try abs.toRealPath() catch { case _: Throwable => abs }
  }

  /** (warmDir, distinct). `warmDir` = SPARK_GRAFT_WARM_DIR if set, else the
    * sf0.001 sibling of `sfDir`, else `sfDir` itself. `distinct` is false
    * when the resolved warm-up dir IS the timed dir after normalization —
    * callers that warm up by running the timed query must then skip it.
    */
  def resolve(sfDir: String): (String, Boolean) = {
    val warm = sys.env.get("SPARK_GRAFT_WARM_DIR").getOrElse {
      Option(norm(sfDir).getParent)
        .map(_.resolve("sf0.001"))
        .filter(p => java.nio.file.Files.isDirectory(p)).map(_.toString)
        .getOrElse(sfDir)
    }
    (warm, norm(warm) != norm(sfDir))
  }
}
