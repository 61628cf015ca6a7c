package graft

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Session artifacts: values derived once per corpus snapshot (label
  * tables, code indexes, trained vocabularies, row counts) and read by
  * every later query of the same session.
  *
  * Lifetime: an artifact lives exactly as long as its SparkContext.
  * Entries are keyed `(session, family, key)`; those of a stopped
  * context are evicted on the next access, so a dead session is never
  * pinned. Nothing is kept across runs: a new JVM or a new session
  * builds every artifact again.
  *
  * Keys: `family` is a short name (`pq_codes`, `gr_bipartite_src`) that
  * also names the build's seconds in [[ArtifactLedger]]. `key` carries
  * everything else that changes the artifact: the corpus dir, runtime
  * parameters and, for [[table]] artifacts, the corpus [[fingerprint]],
  * so a corpus regenerated inside one session is rebuilt, not served
  * stale.
  *
  * Concurrency: exactly one build per key, also under concurrent
  * callers (Verify's dump threads). Each key holds its own cell and the
  * build runs under that cell's lock only, so builds of different keys
  * run in parallel and a build may itself ask for another key (the LSH
  * labels build over the LSH pair graph; the residual codebook over the
  * residual table). A build that throws leaves nothing behind; the next
  * call builds again.
  *
  * Storage kinds:
  *  - [[memo]] keeps whatever the build returns. A Dataset is usually an
  *    eager localCheckpoint, i.e. executor blocks: right for small
  *    artifacts, and registered with [[BlockJanitor.protect]] so the
  *    sweep between top-level builds never frees them.
  *  - [[table]] writes the frame to parquet and keeps the frame read
  *    back. Parquet survives block eviction and keeps a corpus-sized
  *    table out of storage memory, where it would squeeze the execution
  *    pool of the queries that scan it. With `bucketBy` the table is
  *    hash-bucketed, so a join on the bucket column needs no exchange on
  *    the artifact side.
  *
  * Files: parquet goes under `graft-artifacts/` in Spark's driver
  * temporary directory ([[SparkFiles.getRootDirectory]], created under
  * `spark.local.dir`), which Spark deletes when the context stops and
  * at JVM exit. A generation superseded inside one session (its corpus
  * fingerprint changed) stays on disk until the session ends, because a
  * frame handed out earlier may still be scanning it; that is the bound
  * on disk use.
  */
object Artifacts {

  private final class Cell { var value: Option[Any] = None }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Cell]()
  private val generation = new java.util.concurrent.atomic.AtomicLong()

  /** The artifact `(s, family, key)`, built by `build` on first use. */
  def memo[A](s: SparkSession, family: String, key: String)(build: => A): A = {
    cells.keySet.removeIf(_._1.sparkContext.isStopped)
    val cell = cells.computeIfAbsent((s, family, key), _ => new Cell)
    cell.synchronized {
      if (cell.value.isEmpty) cell.value = Some(ArtifactLedger.timed(family)(build) match {
        case ds: Dataset[_] => BlockJanitor.protect(ds)
        case v => v
      })
      cell.value.get.asInstanceOf[A]
    }
  }

  /** The artifact `(s, family, key)` as a parquet table, written from
    * `build` on first use. `bucketBy = Some((n, c))` writes it
    * hash-bucketed on column `c` into `n` buckets, one file per bucket;
    * the bucket spec is part of the artifact's identity.
    */
  def table(s: SparkSession, family: String, key: String,
            bucketBy: Option[(Int, String)] = None)(build: => DataFrame): DataFrame =
    memo(s, family, bucketBy.fold(key) { case (n, c) => s"$key|$n:$c" }) {
      // also the catalog name of a bucketed table, hence the namespace prefix
      val name = s"graft_idx_${family}_${generation.incrementAndGet()}"
        .toLowerCase.replaceAll("[^a-z0-9_]", "_")
      val dir = new java.io.File(
        new java.io.File(SparkFiles.getRootDirectory(), "graft-artifacts"), name).getAbsolutePath
      bucketBy match {
        case None =>
          build.write.parquet(dir)
          s.read.parquet(dir)
        case Some((n, c)) =>
          // bucketed writes go through the catalog; repartitioning first
          // writes one file per bucket instead of one per (task, bucket)
          build.repartition(n, col(c)).write
            .option("path", dir).bucketBy(n, c).format("parquet").saveAsTable(name)
          s.table(name)
      }
    }

  /** Cheap content fingerprint of a source file or directory: every data
    * file's (name, length, mtime) folded into one MD5, reading no data
    * bytes. A missing or unreadable path fingerprints as absent content
    * (the build owns that error); a directory reached twice, e.g.
    * through a symlink cycle, is walked once.
    */
  def fingerprint(path: String): String = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        val canon = try f.getCanonicalPath catch {
          case _: java.io.IOException => f.getAbsolutePath
        }
        if (!seen.add(canon)) Seq.empty
        else Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).toSeq.flatMap(walk)
      } else Seq(f)
    val base = new java.io.File(path)
    val md = java.security.MessageDigest.getInstance("MD5")
    if (!base.exists()) md.update("absent".getBytes("UTF-8"))
    else walk(base).foreach { f =>
      md.update(s"${f.getName}:${f.length}:${f.lastModified}\n".getBytes("UTF-8"))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
