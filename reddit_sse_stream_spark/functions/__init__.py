"""Reusable Column helpers: data-quality expectation checks
(:mod:`reddit_sse_stream_spark.functions.expectations`).  Import the
submodule; this package re-exports nothing."""
