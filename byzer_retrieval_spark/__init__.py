"""byzer_retrieval_spark — a PySpark-native full-text (BM25) retrieval engine.

A from-scratch reimplementation of the query and data-processing
capabilities of allwefantasy/BYZER-RETRIEVAL (a Java/Lucene retrieval
engine), re-expressed Spark-first:

- the Lucene inverted index becomes ordinary columnar tables
  (``docs`` / ``postings`` / ``stats``) partitioned by ``shard_id``,
  built with DataFrame aggregations + vectorized Arrow UDFs;
- BM25 (k1=1.2, b=0.75 — Lucene 9.8 defaults, reference configures no
  Similarity) is computed either as a declarative DataFrame pipeline
  (oracle-grade slow path) or via block-max WAND over delta-gap +
  varbyte compressed posting blocks inside ``applyInPandas`` (fast path);
- filters/sorts/fusion/mutations from the reference's SearchQuery JSON
  surface map onto Column expressions, windows, and merge-on-read
  tombstones.

Nothing in here is a port: the reference executes inside Lucene's
IndexWriter/IndexSearcher; we declare logical plans with the DataFrame
API and let Catalyst/Tungsten/AQE pick physical strategies, dropping to
Arrow-batched pandas UDFs only for posting-block encode/decode and the
WAND scorer, which Spark has no built-in operator for.
"""

from byzer_retrieval_spark import _zipimport_guard

# every engine UDF imports this package when it is unpickled on a worker,
# so the guard also covers PySpark's per-task invalidate_caches() there
_zipimport_guard.install()

__version__ = "0.1.0"

__all__ = ["RetrievalEngine", "SearchQuery", "__version__"]


def __getattr__(name):  # lazy: keep `import byzer_retrieval_spark` light
    if name == "RetrievalEngine":
        from byzer_retrieval_spark.api import RetrievalEngine

        return RetrievalEngine
    if name == "SearchQuery":
        from byzer_retrieval_spark.plans.query import SearchQuery

        return SearchQuery
    raise AttributeError(name)
