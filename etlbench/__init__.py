"""End-to-end benchmark of the openetl_spark engine; see README.md."""
