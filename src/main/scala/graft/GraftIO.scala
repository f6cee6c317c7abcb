package graft

/** Scratch root for engine-internal file layouts (stream replay inputs,
  * checkpoint dirs, versioned CDC/index snapshots, compaction/zorder
  * working sets).
  *
  * Round 17 (guide §6 — I/O and file layout): these paths were hardcoded
  * to `/tmp/graft_io`, which on this box is DISK-backed (`/` on /dev/vda)
  * while the rest of the engine's scratch I/O (shuffle via
  * `spark.local.dir`, temporary stream checkpoints) already follows
  * `java.io.tmpdir` onto tmpfs when [[Bench.tmpfsScratch]] enables it.
  * Deriving the root from `java.io.tmpdir` puts the streaming pipelines'
  * replay files + explicit checkpoints and the maintenance queries'
  * file-layout working sets on the same storage tier as the rest of the
  * scratch — measured ~0.2-0.5 s off every pipeline that commits parquet
  * per micro-batch. Outside the bench (plain sbt test / Verify without
  * the tmpfs guard) `java.io.tmpdir` is `/tmp`, so behavior and paths are
  * unchanged. The `GRAFT_NO_TMPFS` escape hatch disables the redirect at
  * the same single point it always did (tmpfsScratch). */
object GraftIO {
  def root: String = {
    val t = System.getProperty("java.io.tmpdir", "/tmp")
    val base = if (t == null || t.isEmpty) "/tmp" else t.stripSuffix("/")
    s"$base/graft_io"
  }

  /** `root/name`, emptied: a builder's working directory, reset before
    * each run so no file of an earlier run is read back. */
  def fresh(spark: org.apache.spark.sql.SparkSession, name: String): String = {
    val dir = s"$root/$name"
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    dir
  }
}
