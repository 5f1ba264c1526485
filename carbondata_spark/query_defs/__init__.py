"""Query definitions, grouped by operator family (SURVEY.md §2).

Importing this package registers every query into
``carbondata_spark.queries._REGISTRY``.
"""

import carbondata_spark.query_defs.olap  # noqa: F401
import carbondata_spark.query_defs.events_q  # noqa: F401
import carbondata_spark.query_defs.olap2  # noqa: F401
import carbondata_spark.query_defs.olap3  # noqa: F401
import carbondata_spark.query_defs.olap4  # noqa: F401
import carbondata_spark.query_defs.olap5  # noqa: F401
import carbondata_spark.query_defs.pipeline  # noqa: F401
import carbondata_spark.query_defs.pipeline2  # noqa: F401
import carbondata_spark.query_defs.pipeline3  # noqa: F401
import carbondata_spark.query_defs.pipeline4  # noqa: F401
import carbondata_spark.query_defs.pipeline5  # noqa: F401
import carbondata_spark.query_defs.pipeline6  # noqa: F401
import carbondata_spark.query_defs.pipeline7  # noqa: F401
import carbondata_spark.query_defs.ivf_q  # noqa: F401
import carbondata_spark.query_defs.iud_q  # noqa: F401
import carbondata_spark.query_defs.jdbc_q  # noqa: F401
import carbondata_spark.query_defs.feed_q  # noqa: F401
import carbondata_spark.query_defs.feed_merge_q  # noqa: F401
import carbondata_spark.query_defs.lifecycle_q  # noqa: F401
import carbondata_spark.query_defs.routing_q  # noqa: F401
import carbondata_spark.query_defs.scalars  # noqa: F401
import carbondata_spark.query_defs.store_q  # noqa: F401
import carbondata_spark.query_defs.olap100  # noqa: F401
import carbondata_spark.query_defs.refsuites_q  # noqa: F401
import carbondata_spark.query_defs.media_q  # noqa: F401
import carbondata_spark.query_defs.media_rle_q  # noqa: F401
import carbondata_spark.query_defs.restructure_q  # noqa: F401
