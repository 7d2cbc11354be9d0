from flink_sql_ai_meetingcoach_azure_spark.streaming.pipeline import (  # noqa: F401
    dedup_stream,
    RecentHistorySink,
)
from flink_sql_ai_meetingcoach_azure_spark.streaming.aggregate_sink import (  # noqa: F401
    StreamingAggregateSink,
)
