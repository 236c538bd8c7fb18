"""Structured Streaming helpers beside the `kmers` DataSource (whose
writeStream sink is the streaming encode): incremental decode of
committed waves to a parquet sink, and a stateful sessionizer."""
