from .op_spec import (
    EphemeralOpMixin,
    ExcludeFromUUID,
    GraphError,
    OpSpec,
    UUIDMismatchError,
    deserialize_graph,
    load_graph,
    op_class,
    serialize_graph,
)
from .diff import GraphDiff
from .status import OpState, OpStatus
from .transforms import graph_substitute, map_fields

__all__ = [
    "EphemeralOpMixin",
    "GraphDiff",
    "ExcludeFromUUID",
    "GraphError",
    "OpSpec",
    "UUIDMismatchError",
    "deserialize_graph",
    "load_graph",
    "op_class",
    "serialize_graph",
    "graph_substitute",
    "map_fields",
    "OpState",
    "OpStatus",
    "op_class",
]
