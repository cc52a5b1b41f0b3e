"""flink_siddhi_spark: a PySpark-native CEP / streaming-analytics engine with
the query capabilities of haoch/flink-siddhi (SiddhiQL subset), re-architected
Spark-first: DataFrame/Catalyst for relational ops, Arrow-batched stateful
operators for patterns, Structured Streaming for streams.
"""

from . import _zipcache

_zipcache.install()

from .cep import ExecutionSiddhiStream, SiddhiCEP, SiddhiStream  # noqa: E402
from .errors import (  # noqa: E402
    DuplicatedStreamException,
    SiddhiError,
    SiddhiParserException,
    SiddhiPlannerException,
    UndefinedStreamException,
)
from .schema import StreamSchema  # noqa: E402

__version__ = "0.1.0"

__all__ = [
    "SiddhiCEP",
    "SiddhiStream",
    "ExecutionSiddhiStream",
    "StreamSchema",
    "SiddhiError",
    "SiddhiParserException",
    "SiddhiPlannerException",
    "UndefinedStreamException",
    "DuplicatedStreamException",
]
