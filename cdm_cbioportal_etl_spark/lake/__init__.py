from cdm_cbioportal_etl_spark.lake.backend import MergeBackend
from cdm_cbioportal_etl_spark.lake.datasource import (
    LakeTableDataSource,
    register_lake_datasource,
)
from cdm_cbioportal_etl_spark.lake.incremental import IncrementalAggView
from cdm_cbioportal_etl_spark.lake.replicate import TableReplicator
from cdm_cbioportal_etl_spark.lake.sql import LakeSession
from cdm_cbioportal_etl_spark.lake.table import (
    ConcurrentCommitError,
    ConstraintViolationError,
    LakeTable,
    SchemaEvolutionError,
)
from cdm_cbioportal_etl_spark.lake.txn import (
    CatalogConflictError,
    LakeCatalog,
    MultiTableTransaction,
)

__all__ = [
    "CatalogConflictError",
    "ConcurrentCommitError",
    "ConstraintViolationError",
    "IncrementalAggView",
    "LakeCatalog",
    "LakeSession",
    "LakeTable",
    "MultiTableTransaction",
    "LakeTableDataSource",
    "MergeBackend",
    "SchemaEvolutionError",
    "TableReplicator",
    "register_lake_datasource",
]
