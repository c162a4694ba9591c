"""Streaming incremental linkage.

``linkage_stream`` folds a stream of dirty-page batches into the
clusters table, one micro-batch at a time: ``fold_batch`` links a batch
against the clean table and the committed clusters, and
``stream_link_increment`` drives it from a Structured Streaming source
via ``foreachBatch``.
"""
