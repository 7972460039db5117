package graft.build

import graft.analysis.TextAnalyzer
import graft.model.Turn
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Index mutation operators — the Spark-native equivalent of the
  * reference's /modify surface (reference: Lucene.java:481-513 create/
  * update/delete; delete-by-id 301-317; update = delete+add 327-330).
  *
  * Indexes here are immutable table bundles; every mutation returns a new
  * Index whose tables are the old ones with anti-joined/unioned deltas —
  * the reader-visible "commit" is the atomic swap of the bundle (the
  * reference's IndexWriter.commit + SearcherManager refresh,
  * Lucene.java:163-171). At cluster scale the same operations are MERGE
  * INTO / row-level deletes on the storage layer; semantics identical.
  */
object Maintenance {

  /** Delete documents by id across all index tables (reference:
    * LongPoint exact-query delete, Lucene.java:301-317 — here an
    * anti-join, with stats recomputed from the surviving postings). */
  def deleteDocs(index: Index, docIds: Seq[Long]): Index = {
    val spark = index.corpus.sparkSession
    import spark.implicits._
    mutate(index, removed = Some(docIds.toDF("docId")), added = None)
  }

  /** Create (append) new turns: analyze and append their postings.
    * New docIds continue after the current max — stable (conv_id,
    * turn_idx) ordering WITHIN the appended batch, but appended batches
    * break the global (conv_id, turn_idx) dense ordering (ids mirror
    * insertion order, exactly like the reference's upstream-assigned ids);
    * a compaction that re-runs DocIds.assign over the merged corpus
    * restores the global invariant. The appended turns' DocIds mint is a
    * cache this call leaves behind: their docIds exist only in it, so it
    * must stay cached while any generation built on it is live. A caller
    * that releases it mints the turns itself and calls [[addMinted]]. */
  def addTurns(index: Index, turns: Dataset[Turn], analyzer: TextAnalyzer): Index = {
    requireAnalyzer(index, analyzer)
    addMinted(index, graft.corpus.DocIds.forTurns(turns))
  }

  /** [[addTurns]] of turns the caller minted with `DocIds.forTurns`,
    * analyzed with the index's analyzer. The mint stays the caller's: it
    * releases it (`unpersist()`) once no generation built on it is live. */
  def addMinted(index: Index, minted: DataFrame): Index = {
    val base = index.corpus.agg(coalesce(max(col("docId")), lit(-1L))).collect()(0).getLong(0)
    mutate(index, removed = None, added = Some(minted.withColumn("docId", col("docId") + lit(base + 1))))
  }

  /** Update = delete + add (reference: Lucene.java:327-330, 1788-1830).
    * `updated` carries the replacement text for existing docIds. */
  def updateDocs(index: Index, updated: DataFrame, analyzer: TextAnalyzer): Index = {
    requireAnalyzer(index, analyzer)
    mutate(index, removed = Some(updated.select("docId")), added = Some(updated))
  }

  /** Queries are analyzed with the index's analyzer, so added rows must be
    * too — another analyzer would mix two analyses in one index. */
  private def requireAnalyzer(index: Index, analyzer: TextAnalyzer): Unit =
    require(analyzer.name == index.analyzerName,
      s"analyzer ${analyzer.name} does not match the index's analyzer ${index.analyzerName}")

  /** The one write path of a modify batch: anti-join the `removed` docIds
    * out of the corpus and the postings, union in the `added` corpus rows
    * and their postings (analyzed like the index: its analyzer, positions
    * iff it has them), and cache the result with [[IndexBuilder.fromPostings]],
    * whose stats job analyzes the added rows. `index` is left as it was,
    * caches included (the caller owns them). */
  private def mutate(index: Index, removed: Option[DataFrame],
                     added: Option[DataFrame]): Index = {
    def mutated(table: DataFrame, rowsOf: DataFrame => DataFrame) = {
      val kept = removed.fold(table)(ids => table.join(broadcast(ids), Seq("docId"), "left_anti"))
      added.fold(kept)(a => kept.unionByName(rowsOf(a)))
    }
    IndexBuilder.fromPostings(
      mutated(index.corpus, identity),
      mutated(index.postings, a => IndexBuilder.analyzedPostings(IndexBuilder.postingsInput(a),
        index.analyzer, withPositions = index.hasPositions)),
      index.analyzerName)
  }

  /** Denormalization refresh (reference: updateByRelation,
    * Lucene.java:1846-1939 — when a parent-entity row changes, rewrite the
    * flattened fields on all child documents). Here: overwrite `cols` on
    * every corpus row by joining the updated dimension on `key`. The
    * reference pages through children in 10k searchAfter blocks; a join
    * IS that loop, distributed. */
  def updateByRelation(corpus: DataFrame, dim: DataFrame,
                       key: String, cols: Seq[String]): DataFrame = {
    val dimSel = dim.select((key +: cols).map(col): _*)
    val renamed = cols.foldLeft(dimSel)((d, c) => d.withColumnRenamed(c, s"__new_$c"))
    val joined = corpus.join(broadcast(renamed), Seq(key), "left")
    cols.foldLeft(joined)((d, c) =>
      d.withColumn(c, coalesce(col(s"__new_$c"), col(c))).drop(s"__new_$c"))
  }

  /** pruneDocument (reference: Lucene.java:1706-1726 — rebuild a Document
    * minus the given fields): relational rows have a fixed schema, so
    * pruned fields become null on the targeted docs. */
  def pruneFields(corpus: DataFrame, docIds: Seq[Long], fields: Seq[String]): DataFrame =
    fields.foldLeft(corpus) { (d, f) =>
      d.withColumn(f,
        when(col("docId").isin(docIds: _*), lit(null)).otherwise(col(f)))
    }

  /** updateDocumentFields (reference: Lucene.java:1728-1750 — rebuild a
    * Document with the given fields replaced by new values). */
  def updateFields(corpus: DataFrame, docIds: Seq[Long],
                   updates: Map[String, Any]): DataFrame =
    updates.foldLeft(corpus) { case (d, (f, v)) =>
      d.withColumn(f,
        when(col("docId").isin(docIds: _*), lit(v)).otherwise(col(f)))
    }

  /** Per-parent rollup — the reference's aggregateFiles analogue
    * (Lucene.java:639-720: on Datafile changes, fileSize/fileCount are
    * re-aggregated onto the parent Dataset/Investigation docs). A batch
    * groupBy replaces the reference's per-event read-modify-write; at
    * 100 TB this is one partial-aggregated shuffle keyed by the parent. */
  def rollup(corpus: DataFrame, parentCol: String): DataFrame =
    corpus.groupBy(col(parentCol))
      .agg(
        count(lit(1)).as("turn_count"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        max(col("ts")).as("last_ts"))
}
