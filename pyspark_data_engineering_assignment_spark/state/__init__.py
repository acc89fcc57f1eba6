from pyspark_data_engineering_assignment_spark.state.store import ParquetStateStore, StateStore

__all__ = ["ParquetStateStore", "StateStore", "JdbcStateStore"]


def __getattr__(name):
    # lazy: keep duckdb import off the hot path
    if name == "JdbcStateStore":
        from pyspark_data_engineering_assignment_spark.state.jdbc_store import (
            JdbcStateStore,
        )

        return JdbcStateStore
    raise AttributeError(name)
