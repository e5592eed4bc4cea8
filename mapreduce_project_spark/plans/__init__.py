from mapreduce_project_spark import queries_registry  # noqa: F401
