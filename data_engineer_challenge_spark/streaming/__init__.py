"""Incremental / streaming surface (SURVEY.md §2.7).

- ``snapshot_diff``: modified/deleted-file change detection — the one
  capability Spark's file streaming source lacks (SURVEY §4.4).
- ``daemon``: the reference's 30 s polling loop (script.py:60-131) as a
  bounded micro-batch driver over the CDW pipelines.
- ``ingest``: exactly-once ingest ticks — the foreachBatch keyed
  upsert into a SnapshotTable, passage-deduped warehouse ingest and the
  delta-aware curation refresh.
- ``warc_ingest``: the WARC crawl loop over a segment directory.
"""
