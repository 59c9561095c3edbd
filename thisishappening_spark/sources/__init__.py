"""Table readers: parquet tables and the tweets view."""
