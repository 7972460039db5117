package graft.build

import graft.analysis.TextAnalyzer
import graft.api.Json
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import java.nio.file.{Files, Paths}

/** Checkpointed, resumable index build with per-partition lineage and
  * counters (north rule: a killed spark-submit run resumes without
  * recomputation). The reference's analogue is the lock/commit machinery
  * (Lucene.java:1155-1212, 571-587); here the unit of recovery is a
  * docId-hash GROUP: groups are independent because postings rows are
  * per-document, so a group's postings can be built and committed in
  * isolation.
  *
  * Layout under `outDir`:
  *   postings/group=G/   parquet for group G (written to _tmp, atomically renamed)
  *   manifests/G.json    lineage: rows in, tokens, postings out, checksum
  *   meta.json           global stats, written last (the "commit")
  *
  * Resume: groups with a manifest are skipped wholesale; the manifest
  * checksum lets an auditor re-verify a group without recomputing it.
  */
object Checkpoint {

  final case class GroupManifest(
      group: Int, rows: Long, tokens: Long, postings: Long, checksum: Long)

  final case class BuildReport(
      groupsBuilt: Seq[Int], groupsSkipped: Seq[Int], manifests: Seq[GroupManifest])

  private def manifestPath(outDir: String, g: Int) = s"$outDir/manifests/$g.json"

  private def writeManifest(outDir: String, m: GroupManifest): Unit = {
    Files.createDirectories(Paths.get(s"$outDir/manifests"))
    Json.writeFile(manifestPath(outDir, m.group), JObject("group" -> JInt(m.group),
      "rows" -> JLong(m.rows), "tokens" -> JLong(m.tokens), "postings" -> JLong(m.postings),
      "checksum" -> JLong(m.checksum)))
  }

  def readManifest(outDir: String, g: Int): Option[GroupManifest] = {
    val p = manifestPath(outDir, g)
    if (!Files.exists(Paths.get(p))) None
    else {
      val m = Json.readFile(p)
      def f(k: String): Long = Json.long(m \ k).getOrElse(sys.error(s"missing $k in $p"))
      Some(GroupManifest(g, f("rows"), f("tokens"), f("postings"), f("checksum")))
    }
  }

  /** Build (or resume building) the flat postings table for
    * `corpusWithIds` — the posting rows of [[IndexBuilder.build]] — one
    * group at a time. Returns which groups ran. */
  def buildPostings(corpusWithIds: DataFrame, analyzer: TextAnalyzer,
                    outDir: String, nGroups: Int): BuildReport = {
    val spark = corpusWithIds.sparkSession
    val input = IndexBuilder.postingsInput(corpusWithIds)

    val built = scala.collection.mutable.ArrayBuffer.empty[Int]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[Int]
    val manifests = scala.collection.mutable.ArrayBuffer.empty[GroupManifest]

    (0 until nGroups).foreach { g =>
      readManifest(outDir, g) match {
        case Some(m) =>
          skipped += g; manifests += m
        case None =>
          val part = input.filter(pmod(col("docId"), lit(nGroups)) === g)
          val postings = IndexBuilder.analyzedPostings(part, analyzer)

          // stage to a temp dir, collect lineage counters in the same
          // pass, then atomically publish
          val tmp = s"$outDir/postings/_tmp_group=$g"
          val dst = s"$outDir/postings/group=$g"
          postings.write.mode("overwrite").parquet(tmp)
          val written = spark.read.parquet(tmp)
          val statsRow = written.agg(
            count(lit(1)).as("postings"),
            coalesce(sum(col("tf")), lit(0L)).as("tokens"),
            coalesce(
              pmod(sum(xxhash64(col("term"), col("docId"), col("tf")).cast("decimal(38,0)")),
                lit(BigDecimal("4611686018427387904"))).cast("long"),
              lit(0L)).as("checksum")).collect()(0)
          val rows = part.count()
          val m = GroupManifest(g, rows, statsRow.getLong(1),
            statsRow.getLong(0), statsRow.getLong(2))
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val dstPath = new org.apache.hadoop.fs.Path(dst)
          if (fs.exists(dstPath)) fs.delete(dstPath, true)
          fs.rename(new org.apache.hadoop.fs.Path(tmp), dstPath)
          writeManifest(outDir, m)
          built += g
          manifests += m
      }
    }

    // global stats + meta "commit"
    val all = spark.read.parquet(s"$outDir/postings")
    val s = all.agg(countDistinct(col("docId")), sum(col("tf"))).collect()(0)
    Json.writeFile(s"$outDir/meta.json", JObject("analyzer" -> JString(analyzer.name),
      "docCount" -> JLong(s.getLong(0)), "sumTotalTermFreq" -> JLong(s.getLong(1)),
      "nGroups" -> JInt(nGroups), "version" -> JInt(1)))
    BuildReport(built.toSeq, skipped.toSeq, manifests.toSeq)
  }

  /** Load the postings built by buildPostings. */
  def loadPostings(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/postings").drop("group")
}
