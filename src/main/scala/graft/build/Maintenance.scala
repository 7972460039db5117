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
  def deleteDocs(index: Index, docIds: Seq[Long],
                 unpersistOld: Boolean = true): Index = {
    val spark = index.corpus.sparkSession
    import spark.implicits._
    val ids = docIds.toDF("docId")
    val corpus = index.corpus.join(broadcast(ids), Seq("docId"), "left_anti")
    val postings = index.postings.join(broadcast(ids), Seq("docId"), "left_anti")
    rebuild(index, corpus, postings, unpersistOld)
  }

  /** Create (append) new turns: analyze and append their postings.
    * New docIds continue after the current max — stable (conv_id,
    * turn_idx) ordering WITHIN the appended batch, but appended batches
    * break the global (conv_id, turn_idx) dense ordering (ids mirror
    * insertion order, exactly like the reference's upstream-assigned ids);
    * a compaction that re-runs DocIds.assign over the merged corpus
    * restores the global invariant. */
  def addTurns(index: Index, turns: Dataset[Turn], analyzer: TextAnalyzer,
               unpersistOld: Boolean = true): Index = {
    val base = index.corpus.agg(coalesce(max(col("docId")), lit(-1L))).collect()(0).getLong(0)
    val newCorpus = graft.corpus.DocIds.forTurns(turns)
      .withColumn("docId", col("docId") + lit(base + 1))
    // a positional index's delta must be positional too, or the union fails
    val delta = IndexBuilder.build(newCorpus, analyzer, index.hasPositions)
    val corpus = index.corpus.unionByName(newCorpus)
    val postings = index.postings.unionByName(delta.postings)
    val out = rebuild(index, corpus, postings, unpersistOld)
    // the merged postings cache is materialized by rebuild's stats action;
    // the delta's own caches are now redundant intermediates
    delta.unpersistAll(includeCorpus = false)
    out
  }

  /** Update = delete + add (reference: Lucene.java:327-330, 1788-1830).
    * `updated` carries the replacement text for existing docIds. */
  def updateDocs(index: Index, updated: DataFrame, analyzer: TextAnalyzer): Index = {
    val ids = updated.select("docId")
    val corpusKept = index.corpus.join(broadcast(ids), Seq("docId"), "left_anti")
    val postingsKept = index.postings.join(broadcast(ids), Seq("docId"), "left_anti")
    val delta = IndexBuilder.build(updated, analyzer, index.hasPositions)
    val corpus = corpusKept.unionByName(updated)
    val postings = postingsKept.unionByName(delta.postings)
    val out = rebuild(index, corpus, postings)
    delta.unpersistAll(includeCorpus = false)
    out
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

  /** `unpersistOld = false` keeps the predecessor's caches alive — for
    * callers mutating a long-lived STANDING index (a serving deployment's
    * modify(), the gate's cached base index) where the original bundle
    * keeps serving queries after the mutation; the caller then owns both
    * generations' caches. Default true: a mutation CHAIN supersedes its
    * predecessor (original cache-hygiene semantics). */
  private def rebuild(old: Index, corpus: DataFrame, postings: DataFrame,
                      unpersistOld: Boolean = true): Index = {
    // fromPostings' stats action materializes the NEW postings cache (the
    // scan writes its blocks), so the predecessor's cache can be dropped next
    val out = IndexBuilder.fromPostings(corpus, postings, old.analyzerName)
    // cache hygiene: a mutation SUPERSEDES `old` — without this, a chain
    // of N updates pins N index generations in executor storage. The old
    // bundle stays queryable (its tables recompute from lineage), just
    // uncached; its corpus is owned by DocIds/the caller and untouched.
    if (unpersistOld) {
      old.postings.unpersist()
      old.termStats.unpersist()
    }
    out
  }
}
