package graft.ops

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (pre-shuffled) table layout — the co-located join pattern.
  *
  * A fact ⋈ fact join on the same key normally pays a full shuffle of
  * BOTH sides on every query. Writing each side `bucketBy(n, key)` pays
  * that shuffle ONCE at layout time: every subsequent join on the bucket
  * key reads matching buckets pairwise and the physical plan carries NO
  * Exchange on either side (pinned by PlanAuditSpec). At 100 TB this is
  * the difference between an O(data) network step per query and none —
  * the classic answer for a fact table that is repeatedly joined or
  * aggregated on one hot key (order_id, user_id, …). `sortBy` within
  * buckets additionally lets the sort-merge join skip its sort.
  *
  * The bucketed copies are written once per (session, source dir) into a
  * temp-dir-backed table and reused — mirroring real life, where layout
  * is a one-time ETL cost amortized over every downstream query.
  */
object Bucketing {

  // every materialized layout dir, deleted when the JVM exits so repeated
  // test/verify/bench runs don't accumulate table copies under /tmp
  private val createdDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.nio.file.Path]())
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      createdDirs.forEach { root =>
        try {
          java.nio.file.Files.walk(root)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case NonFatal(_) => () } // best-effort cleanup
      }))
  }

  /** Ensure a bucketed+sorted copy of `df` exists as a catalog table;
    * returns the table name. Idempotent per (session, dir, name). The
    * table name embeds the sanitized NORMALIZED source path plus a
    * sha1 prefix of the exact normalized path — sanitization alone maps
    * e.g. /data/sf-1 and /data/sf_1 to the same identifier, so the hash
    * is what guarantees distinct dirs never share a table. Layout
    * assumes the source files are immutable for the session's lifetime
    * (the usual ETL contract); a regenerated source needs a new
    * session. */
  def ensureBucketed(s: SparkSession, dir: String, name: String, df: => DataFrame,
      key: String, buckets: Int): String = synchronized {
    val normalized = java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString
    val pathTag = {
      val d = java.security.MessageDigest.getInstance("SHA-1")
        .digest(normalized.getBytes("UTF-8"))
      d.take(6).map(b => f"$b%02x").mkString
    }
    val tbl = s"graft_bkt_${name}_${pathTag}_" +
      normalized.replaceAll("[^a-zA-Z0-9]", "_")
    if (!s.catalog.tableExists(tbl)) {
      val path = java.nio.file.Files.createTempDirectory(s"graft-bkt-$name-")
      createdDirs.add(path)
      df.write
        .mode("overwrite")
        .option("path", path.toString)
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(tbl)
    }
    tbl
  }
}
