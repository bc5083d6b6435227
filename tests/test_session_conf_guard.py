"""Runtime session conf is changed only in ``session.py``.

A session is shared by every query on it, a ``foreachBatch`` sink's with
the user's own, so engine code shapes its plans (hints, repartitioning)
instead of toggling session state around them."""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "iceberg_kafka_connect_spark"
CONF_CHANGE = re.compile(r"conf\.(un)?set\(")


def test_conf_set_and_unset_only_in_session_module():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if CONF_CHANGE.search(line)
    ]
    assert offenders == []
