package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Commit protocol for directory-backed parquet tables.
  *
  * Parquet overwrite is not atomic (the target dir is deleted before the new
  * files commit), so every rewrite goes: write to a sibling `._GRAFT_TMP`
  * dir, then swap with ATOMIC renames only — the previous table is set ASIDE
  * by rename (`._GRAFT_OLD`), never deleted in place, because an interrupted
  * recursive delete leaves a partial directory a later run would read as the
  * complete prior table (silent row loss). A `._GRAFT_TABLE` marker records
  * that the table has committed at least once: a missing data dir WITH the
  * marker present means an interrupted swap, never "first write" — restore
  * from the complete tmp copy (preferred, it already holds the newest data)
  * or the set-aside previous table; abort if neither survives. Every
  * rename's Boolean result is checked: HadoopFS reports most failures by
  * returning false, and an unchecked false would fall through to exactly the
  * reinitialization this protocol exists to prevent.
  *
  * Only [[Tables]] calls it: `Tables.committed` runs [[recover]] BEFORE
  * reading the current table (so callers see the restored state), callers
  * build their replacement lazily against it, and `Tables.write` hands the
  * actual write to [[commit]] — the old dir is only read while tmp is being
  * written, never overlapping the swap.
  */
object TableSwap {
  private case class Dirs(fs: org.apache.hadoop.fs.FileSystem, path: Path,
      marker: Path, tmp: Path, old: Path) {
    def mustRename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        sys.error(s"rename $from -> $to failed; table $path left un-swapped")
  }

  private def dirs(spark: SparkSession, tableDir: String): Dirs = {
    val path = new Path(tableDir)
    Dirs(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path,
      new Path(tableDir + "._GRAFT_TABLE"), new Path(tableDir + "._GRAFT_TMP"),
      new Path(tableDir + "._GRAFT_OLD"))
  }

  /** Finish or roll back an interrupted swap; error out rather than let a
    * committed-before table silently reinitialize. */
  def recover(spark: SparkSession, tableDir: String): Unit = {
    val d = dirs(spark, tableDir)
    if (!d.fs.exists(d.path) && d.fs.exists(d.marker)) {
      if (d.fs.exists(new Path(d.tmp, "_SUCCESS")))
        d.mustRename(d.tmp, d.path) // finish the interrupted swap
      else if (d.fs.exists(d.old))
        d.mustRename(d.old, d.path) // swap never started; previous intact
      else sys.error(s"table $tableDir has committed before (marker present) " +
        "but the data directory is missing and no complete copy survives — " +
        "refusing to reinitialize")
    }
  }

  /** Run `write` against the tmp dir, then atomically swap it in. A crash in
    * either delete leaves only the disposable `._GRAFT_OLD` partial, never a
    * partial live table. */
  def commit(spark: SparkSession, tableDir: String)(write: String => Unit): Unit = {
    val d = dirs(spark, tableDir)
    if (d.fs.exists(d.tmp)) d.fs.delete(d.tmp, true)
    write(d.tmp.toString) // reads old dir, writes new — no overlap
    if (!d.fs.exists(d.marker)) d.fs.create(d.marker).close()
    if (d.fs.exists(d.old)) d.fs.delete(d.old, true)
    if (d.fs.exists(d.path)) d.mustRename(d.path, d.old)
    d.mustRename(d.tmp, d.path)
    if (d.fs.exists(d.old)) d.fs.delete(d.old, true)
  }
}
