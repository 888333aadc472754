"""Failure surfacing in sink_txlog_rowops: an error in one main-chain
step must surface as itself (not as a later UnboundLocalError) and the
six side-leg pool threads must be joined before it propagates."""

from __future__ import annotations

import threading

import pytest

from service_level_reporting_spark.sources import sinks
from service_level_reporting_spark.sources.txlog import (
    ProtocolError, TxLogTable)

from .conftest import SF_DIR_001

pytestmark = pytest.mark.slow


def test_main_chain_error_surfaces_and_joins_side_legs(spark, monkeypatch):
    baseline = {th.ident for th in threading.enumerate()}

    def boom(self, *a, **k):
        raise ProtocolError("injected restore failure")

    monkeypatch.setattr(TxLogTable, "restore", boom)
    with pytest.raises(ProtocolError, match="injected restore failure"):
        sinks.sink_txlog_rowops(spark, SF_DIR_001)
    leaked = [th.name for th in threading.enumerate()
              if th.ident not in baseline]
    assert leaked == [], leaked
    assert threading.active_count() == len(baseline)
