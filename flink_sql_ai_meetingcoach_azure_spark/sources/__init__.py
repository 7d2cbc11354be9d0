from flink_sql_ai_meetingcoach_azure_spark.sources.documents import (  # noqa: F401
    load_markdown_corpus,
)
from flink_sql_ai_meetingcoach_azure_spark.sources.cache import (  # noqa: F401
    ResponseCache,
)
