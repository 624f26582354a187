"""LightningContext — the user-facing session wrapper (the Python
analogue of installing the reference's session extension +
`spark.sql.catalog.lightning` conf, SparkExtensionsTestBase.scala:54-56).

    ctx = LightningContext(spark, warehouse="/path/to/model")
    ctx.sql("REGISTER PARQUET DATASOURCE tpch OPTIONS(path '/data') "
            "NAMESPACE lightning.datasource.file")
    ctx.sql("SELECT * FROM lightning.datasource.file.tpch.orders").show()

`sql()` dispatches: Lightning DDL -> command layer (driver-side metadata
ops); anything else -> resolver binding -> `spark.sql()` (Catalyst owns
planning/execution end to end — EP2 in SURVEY.md §3).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from lightning_metastore_spark.catalog.resolver import Resolver
from lightning_metastore_spark.model.metastore import Metastore
from lightning_metastore_spark.parser.dispatcher import (
    is_lightning_command,
    parse_command,
)


class LightningContext:
    def __init__(self, spark: SparkSession, warehouse: str | None = None,
                 jdbc_pushdown: bool = False, current_user: str | None = None):
        # jdbc_pushdown is opt-in: the pushed query runs in the REMOTE
        # dialect, which may surface different identifier casing (e.g.
        # Derby uppercases) and only supports ANSI-compatible text.
        # current_user enables @AccessControl enforcement on USL tables.
        self.spark = spark
        if warehouse is None:
            warehouse = os.path.join(tempfile.gettempdir(), "lightning-model")
        self.metastore = Metastore(warehouse)
        self.resolver = Resolver(spark, self.metastore, current_user=current_user)
        self.jdbc_pushdown = jdbc_pushdown

    def sql(self, query: str) -> DataFrame:
        if is_lightning_command(query):
            return parse_command(query).run(self)
        if self.jdbc_pushdown:
            # single-JDBC-source queries execute AT the source
            pushed = self.resolver.try_single_jdbc_pushdown(query)
            if pushed is not None:
                return pushed
        return self.resolver.sql(query)

    def table(self, name: str) -> DataFrame:
        """Load a lightning.* table directly (DataFrame API path)."""
        parts = [p for p in name.split(".") if p]
        if parts and parts[0].lower() == "lightning":
            parts = parts[1:]
        return self.resolver.load_table(parts)
