"""crawler_pyspider_spark — a PySpark-native URL-frontier + fetch-scheduler
analytics engine with the query semantics of GongSong/crawler-pyspider
(a pyspider fork), re-expressed Spark-first.

The reference is a record-at-a-time tornado/IOLoop crawler (scheduler /
fetcher / processor / result worker over message queues).  This package
re-expresses its *semantics* set-at-a-time:

- frontier state       -> a DataFrame / parquet-snapshot table (taskdb)
- priority queue       -> window ranking (priority DESC, seq ASC)
- token-bucket rate    -> per-host budget vs window rank filter
- robots gating        -> broadcast-joined rules table
- URL-seen set         -> exact anti-join + partitioned cuckoo shards
- link/text extraction -> vectorized Arrow pandas UDFs
- crawl loop           -> deterministic epoch loop with atomic snapshots

No code is copied from the reference; reference file:line citations in
docstrings identify the behaviour being reproduced.
"""

__version__ = "0.1.0"

from crawler_pyspider_spark.session import get_spark  # noqa: F401
