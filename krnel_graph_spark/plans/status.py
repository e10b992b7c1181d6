"""Materialization status records.

Each non-ephemeral op gets a small JSON status document in the result store
(parity with the reference's ``runners/op_status.py:13-39``). The record
holds the op's own node, the upstream nodes the store does not hold
(ephemeral ops and sources), and the UUIDs of its stored ancestors, whose
own records hold their nodes. So each node is written once per store, and
any process pointing at the same store can still rehydrate the pipeline
from a UUID alone by following those UUIDs (``load_graph``; parity with the
reference's ``uuid_to_op``, ``local_arrow_runner.py:250-269``).

A completed parquet result also records its Spark schema
(``StructType.jsonValue()``), so opening it from the store needs no
footer-inference job."""

from __future__ import annotations

import datetime
from enum import Enum
from typing import Any, Optional

from pydantic import BaseModel


class OpState(str, Enum):
    NEW = "new"
    PENDING = "pending"
    RUNNING = "running"
    COMPLETED = "completed"
    FAILED = "failed"
    EPHEMERAL = "ephemeral"


def utcnow() -> str:
    return datetime.datetime.now(datetime.timezone.utc).isoformat()


class OpStatus(BaseModel):
    uuid: str
    state: OpState = OpState.NEW
    started_at: Optional[str] = None
    completed_at: Optional[str] = None
    error: Optional[str] = None
    # This op's node plus unstored upstream nodes; stored ancestors by UUID.
    graph: Optional[dict[str, Any]] = None
    # Spark schema of the stored parquet result (StructType JSON).
    result_schema: Optional[dict[str, Any]] = None

    def to_json(self) -> str:
        return self.model_dump_json()

    @classmethod
    def from_json(cls, blob: str) -> "OpStatus":
        return cls.model_validate_json(blob)
