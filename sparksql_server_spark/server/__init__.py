"""The work-sharing SQL server — Layer B of SURVEY.md §2, Spark-first.

Pipeline (≙ reference WorksharingExecutor.scala:65-98):
queue (batcher) → shared-scan detection (detector) → cache rewrite
(cache) → FAIR-pool concurrent execution (scheduler) → TCP gateway
(server).
"""

from sparksql_server_spark.server.model import QueryJob, SharingBag, JobStatus, RewriteKind  # noqa: F401
from sparksql_server_spark.server.batcher import WindowBatcher  # noqa: F401
from sparksql_server_spark.server.detector import detect_sharing  # noqa: F401
from sparksql_server_spark.server.cache import CacheManager  # noqa: F401
from sparksql_server_spark.server.scheduler import BatchExecutor  # noqa: F401
from sparksql_server_spark.server.server import WorkSharingServer, client_request  # noqa: F401
from sparksql_server_spark.server.client import SparkSQLClient  # noqa: F401
