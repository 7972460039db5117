package graft.build

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Snapshot-isolated index storage — the Spark-side stand-in for the
  * reference's commit/refresh visibility model (reference: ShardBucket
  * commit + SearcherManager.maybeRefreshBlocking, Lucene.java:163-171,
  * 571-587) and for an Iceberg catalog (not resolvable in this offline
  * sandbox; SURVEY.md §7.4 documents the substitution).
  *
  * Layout:
  *   root/v00000001/…        immutable index version directories
  *   root/LATEST             one line: the committed version name
  *
  * Writers build a full new version directory, then atomically move a
  * staged pointer file over LATEST. Readers resolve LATEST once at open —
  * a reader opened before a commit keeps serving the old version
  * (snapshot isolation), exactly like an acquired IndexSearcher.
  */
final class SnapshotStore(root: String) {
  private val rootPath: Path = Paths.get(root)
  Files.createDirectories(rootPath)

  private def latestFile: Path = rootPath.resolve("LATEST")

  /** Currently committed version name, if any. */
  def currentVersion: Option[String] =
    if (Files.exists(latestFile)) Some(Files.readString(latestFile).trim)
    else None

  /** Directory of the committed version. */
  def currentDir: Option[String] =
    currentVersion.map(v => rootPath.resolve(v).toString)

  private def nextVersion: String = {
    val n = currentVersion
      .flatMap(v => scala.util.Try(v.stripPrefix("v").toLong).toOption)
      .getOrElse(0L)
    f"v${n + 1}%08d"
  }

  /** Write `index` as a new version and commit it (atomic pointer swap).
    * Returns the new version name. */
  def commit(index: Index): String = {
    val v = nextVersion
    val dir = rootPath.resolve(v).toString
    IndexBuilder.save(index, dir)
    val staged = rootPath.resolve(s".LATEST.$v.tmp")
    Files.writeString(staged, v)
    Files.move(staged, latestFile,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    v
  }

  /** Open the committed snapshot (readers keep it even if a new commit
    * lands afterwards — they hold the resolved directory). */
  def open(spark: SparkSession): Index = {
    val dir = currentDir.getOrElse(sys.error(s"no committed version under $root"))
    IndexBuilder.load(spark, dir)
  }

  /** Open a specific historical version (time travel). */
  def openVersion(spark: SparkSession, version: String): Index =
    IndexBuilder.load(spark, rootPath.resolve(version).toString)

  /** All committed + retained versions, oldest first. */
  def versions: Seq[String] = {
    val ds = Files.list(rootPath)
    try {
      import scala.jdk.CollectionConverters._
      ds.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v")).toSeq.sorted
    } finally ds.close()
  }
}
