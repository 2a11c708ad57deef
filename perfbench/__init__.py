"""Standalone benchmark of the imtag_spark engine; see README.md."""
