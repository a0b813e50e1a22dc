package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The iterative-operator checkpoint primitive (pagerank/label-prop/
  * SCC/BFS rounds, connected-components, BPE merge rounds).
  *
  * Default: eager `localCheckpoint(level)` — executor-local
  * materialization, no filesystem round-trip, the fastest choice on a
  * healthy cluster and the only sane one for the local harness. Its
  * known weakness at deployment scale: lineage is TRUNCATED, so losing
  * an executor mid-job makes the checkpointed blocks unrecoverable and
  * a 2-hour SCC dies with it (r16 verdict item 3).
  *
  * Set `spark.graft.checkpoint.dir` to a durable directory (HDFS/S3 on
  * a real cluster) and every iterative operator switches to RELIABLE
  * `checkpoint()`: rounds materialize to files, and executor loss
  * recomputes downstream tasks from the files instead of aborting the
  * job. The session's `sparkContext.checkpointDir` is set on first use
  * (and re-pointed if the conf changes). Superseded generations are
  * freed by [[Release]] in both modes — block unpersist locally,
  * recursive file delete for reliable checkpoints (guarded to paths
  * under the configured dir, see Release's scaladoc).
  *
  * Same contract either way: the returned frame is EAGER (materialized
  * before return) and lineage-free, so loops can release the previous
  * generation safely.
  */
object Ckpt {

  /** Session conf key; empty/unset = localCheckpoint (default).
    *
    * CONTEXT-DIR OWNERSHIP (advisor r17): `sparkContext.checkpointDir`
    * is context-global, and `DataFrame.checkpoint` offers no per-call
    * override — so while this conf is set, graft POINTS THE CONTEXT
    * DIR at it (once per distinct value) and the host application's
    * own subsequent `.checkpoint()` calls will also write under it.
    * graft never restores a prior dir: restoring after every call
    * would mint a fresh `<dir>/<uuid>` subdir per checkpoint (Spark
    * appends one per `setCheckpointDir`) and litter the durable store.
    * Hosts that checkpoint their own RDDs under a different dir should
    * leave this conf unset (localCheckpoint mode) or accept shared
    * ownership of the configured dir. A foreign dir being overridden
    * is logged loudly once per (foreign, configured) pair.
    */
  val DirConf = "spark.graft.checkpoint.dir"

  private val warnedForeign =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(DirConf).map(_.trim).filter(_.nonEmpty)

  /** The context checkpoint dirs (the `<dir>/<uuid>` subdirs Spark
    * creates) that THIS primitive pointed the context at — recorded so
    * [[Release]] can establish ownership of a checkpoint file even
    * after the conf is unset or re-pointed (otherwise reliable files
    * would leak permanently on the durable store: review r17). Bounded
    * by the number of distinct conf values a session uses. */
  private val setDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** True when `file` (a qualified URI or raw path) sits under `dir`
    * with a real path-separator boundary — `/data/ckpt-app/x` is NOT
    * under `/data/ckpt` (review r17: bare startsWith reaped sibling
    * dirs sharing a string prefix). */
  private[graft] def underDir(file: String, dir: String): Boolean = {
    val f = file.stripPrefix("file:")
    val d = dir.stripPrefix("file:").stripSuffix("/")
    f == d || f.startsWith(d + "/")
  }

  /** Ownership test for [[Release]]: the file is under the currently
    * configured graft checkpoint dir, or under a context checkpoint
    * dir this primitive itself set (survives conf unset/change). */
  private[graft] def owns(df: org.apache.spark.sql.Dataset[_],
                          file: String): Boolean =
    df.sparkSession.conf.getOption(DirConf).map(_.trim).filter(_.nonEmpty)
      .exists(d => underDir(file, d)) ||
      setDirs.stream().anyMatch(d => underDir(file, d))

  def apply(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    mark(df, level, eager = true)

  private def mark(df: DataFrame, level: StorageLevel,
                   eager: Boolean): DataFrame = {
    val ck = reliableDir(df) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // check, set and record under one lock: two driver threads
        // checkpointing at once (overlapped loop materializations) could
        // otherwise both see a foreign dir and both set it, leaving the
        // first `<dir>/<uuid>` unrecorded and its files unowned
        setDirs.synchronized {
          // setCheckpointDir appends a fresh UUID subdir each call, so
          // re-setting per checkpoint would litter — only when the
          // current context dir is not under the configured dir (with a
          // separator boundary: "/data/ckpt-app" must not satisfy a
          // "/data/ckpt" conf — review r17).
          if (!sc.getCheckpointDir.exists(cur => underDir(cur, dir))) {
            // overriding a dir graft did not set itself re-homes the host
            // application's own .checkpoint() output too — documented on
            // DirConf; surfaced once per pair so it can't scroll away
            sc.getCheckpointDir
              .filter(cur => !setDirs.contains(cur))
              .foreach { cur =>
                if (warnedForeign.add((cur, dir))) System.err.println(
                  s"[graft.Ckpt] WARNING: re-pointing context checkpoint " +
                    s"dir '$cur' -> '$dir' ($DirConf is set); the host " +
                    "application's own .checkpoint() calls now write " +
                    "there too — see Ckpt.DirConf scaladoc")
              }
            sc.setCheckpointDir(dir)
          }
          sc.getCheckpointDir.foreach(setDirs.add)
        }
        df.checkpoint(eager = eager)
      case None => df.localCheckpoint(eager = eager, storageLevel = level)
    }
    // keep stats (broadcast sizing), drop lazily-propagated origin
    // constraints — they crash Spark 4.1's Union constraint rewrite on
    // the iterative union-of-generations shape (see CleanLeaf scaladoc)
    org.apache.spark.sql.graftshim.CleanLeaf.stripConstraints(ck)
  }

  /** Checkpoint + row count in ONE driver job (r19, guide §2 driver-
    * round latency). The eager form runs an internal materialization
    * job and every iterative loop then pays a SECOND job for the
    * early-stop `count()` — pure scheduling overhead, since the count
    * only reads the just-persisted blocks. Marking the checkpoint LAZY
    * and counting immediately materializes the blocks during the count
    * itself: same rows, same storage, same lineage truncation, half
    * the driver round-trips per iteration. The returned frame is
    * FULLY MATERIALIZED on return (the count is an action over every
    * partition, and local checkpoints finalize in the post-job
    * `doCheckpoint` hook), so the caller may Release superseded
    * generations exactly as with the eager form. In reliable mode the
    * checkpoint files are written by the standard post-action
    * checkpoint job, as with `checkpoint(eager = true)` — no change in
    * durability semantics.
    */
  def counted(df: DataFrame,
              level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, Long) = {
    val ck = mark(df, level, eager = false)
    (ck, ck.count())
  }

  implicit final class CkptOps(private val df: DataFrame) extends AnyVal {
    /** `df.iterCkpt(ser)` — postfix form for loop bodies. */
    def iterCkpt(level: StorageLevel): DataFrame = Ckpt(df, level)
    def iterCkpt: DataFrame = Ckpt(df)
    /** `df.iterCkptCounted(ser)` — checkpoint + count, one job. */
    def iterCkptCounted(level: StorageLevel): (DataFrame, Long) =
      Ckpt.counted(df, level)
  }
}
