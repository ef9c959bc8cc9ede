package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Iceberg-shaped table layer: Parquet data files + JSON snapshot manifests
  * with atomic commits and MERGE-style upsert semantics.
  *
  * No Iceberg runtime exists in this sandbox (checked `/opt/spark/jars`),
  * so this layer reproduces the observable behaviors the north rule needs —
  * snapshot isolation, MERGE-based checkpoints, resumable reads — over
  * plain Parquet:
  *
  *   - each commit writes a new immutable data directory
  *     `data/v{N}/` and a manifest `snapshots/v{N}.json` listing ALL
  *     directories visible in that snapshot (merge-on-read, like Iceberg's
  *     manifest list: a commit appends deltas, never rewrites history);
  *   - `_current` is flipped by atomic rename — readers see the old or the
  *     new snapshot, never a partial one;
  *   - a commit stores its frame as given: a row's commit version is the
  *     `N` of its `data/v{N}` directory, attached at read time (tables
  *     written before this layout also stored it as a `_commit_version`
  *     column; read overrides that column with the same value);
  *   - MERGE keyed by `keyCols`: on read, rows from higher commit versions
  *     supersede lower ones per key (one window over the short key — the
  *     scalable upsert read at 100 TB; compaction would fold deltas the
  *     same way Iceberg's rewrite action does);
  *   - time travel: `read(Some(version))`.
  */
final class SnapTable(spark: SparkSession, root: String, keyCols: Seq[String]) {

  private val rootP: Path = Paths.get(root)
  private val snapsP: Path = rootP.resolve("snapshots")
  private val currentP: Path = rootP.resolve("_current")
  Files.createDirectories(snapsP)

  def currentVersion: Option[Int] =
    if (Files.exists(currentP))
      Some(new String(Files.readAllBytes(currentP), StandardCharsets.UTF_8).trim.toInt)
    else None

  private def manifest(v: Int): Seq[String] = {
    val txt = new String(Files.readAllBytes(snapsP.resolve(s"v$v.json")), StandardCharsets.UTF_8)
    // minimal JSON: {"version":N,"dirs":["data/v1","data/v2"]}
    val dirs = "\"dirs\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
    dirs.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
  }

  /** MERGE-commit: append `df` as a new delta; rows with keys present in
    * older versions supersede them at read time. Returns new version.
    * The frame is written as given — no projection is laid over it, so a
    * wide row reaches the writer in the physical form its producer built.
    */
  def mergeCommit(df: DataFrame): Int = {
    val prev = currentVersion
    commit(prev.map(_ + 1).getOrElse(1), df, prev.map(manifest).getOrElse(Seq.empty))
  }

  /** Write `df` as `data/v{v}`, publish manifest `v` (the `kept` dirs plus
    * the new one) and flip `_current` to it atomically.
    */
  private def commit(v: Int, df: DataFrame, kept: Seq[String]): Int = {
    val dataDir = s"data/v$v"
    df.write.mode("overwrite").parquet(rootP.resolve(dataDir).toString)
    val dirs = kept :+ dataDir
    val json = s"""{"version":$v,"key":${keyCols.mkString("[\"", "\",\"", "\"]")},"dirs":${dirs.mkString("[\"", "\",\"", "\"]")}}"""
    Files.write(snapsP.resolve(s"v$v.json"), json.getBytes(StandardCharsets.UTF_8))
    val tmp = rootP.resolve(s"_current.tmp.$v")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentP, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING) // atomic snapshot flip
    v
  }

  /** Snapshot read with MERGE resolution (latest commit wins per key). */
  def read(asOfVersion: Option[Int] = None): Option[DataFrame] = {
    val v = asOfVersion.orElse(currentVersion).getOrElse(return None)
    val dirs = manifest(v)
    if (dirs.isEmpty) return None
    // deltas written before a column was added lack it: it reads as null
    val union = dirs.map { d =>
      spark.read.parquet(rootP.resolve(d).toString)
        .withColumn("_commit_version", lit(d.stripPrefix("data/v").toInt))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val resolved = if (keyCols.isEmpty) union else {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("_commit_version").desc)
      union.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
    }
    Some(resolved.drop("_commit_version"))
  }

  /** One commit's rows as written, without MERGE resolution: the
    * `data/v{v}` directory that `mergeCommit` returned `v` for, read with
    * `schema` (an empty delta then needs no file footer to plan).
    */
  def delta(v: Int, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(rootP.resolve(s"data/v$v").toString)

  def exists: Boolean = currentVersion.isDefined

  /** Compaction (Iceberg rewrite-action analog): fold all deltas into one
    * resolved data directory and commit it as the new snapshot. Read cost
    * returns to a plain scan; history remains time-travelable (older
    * manifests keep referencing the original delta dirs).
    */
  def compact(): Option[Int] = {
    val resolved = read().getOrElse(return None)
    Some(commit(currentVersion.get + 1, resolved, Seq.empty))
  }
}
