"""Driver-side build cost of the model queries, in py4j round trips.

Every PySpark ``Column`` / ``functions`` call crosses to the JVM. With
call-site capture off (``session.get_spark``) a binary operator is one
round trip; with it on it is eleven, and a model query's Python build
outweighs its execution. The budgets below are about 1.5x the counts
of the current builders, so a change that brings capture back, or that
rebuilds a melt's composition prologue per model, fails here."""

import py4j.clientserver
import py4j.protocol
import pytest

from magmapandas_spark.relational.suite import queries

SF_DIR = "/root/testdata/sf0.001"

# query -> round-trip budget for one build (current counts: 502, 520, 471)
BUDGETS = {
    "kd_expr_models": 750,
    "density_viscosity": 780,
    "fe3fe2_expr_models": 700,
}


def test_session_disables_call_site_capture(spark):
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )


# py4j also sends one message per garbage-collected JVM reference; when
# those go out depends on Python's collector, not on the build
_RELEASE = (
    py4j.protocol.MEMORY_COMMAND_NAME
    + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME
)


@pytest.fixture
def round_trips(monkeypatch):
    count = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting_send(self, command):
        if not command.startswith(_RELEASE):
            count[0] += 1
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command",
        counting_send,
    )
    return count


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_model_query_build_round_trips(spark, round_trips, name):
    build = queries()[name]
    build(spark, SF_DIR)  # warm: persisted melt, JVM class lookups
    before = round_trips[0]
    build(spark, SF_DIR)
    n = round_trips[0] - before
    assert n > 0, "py4j round trips were not counted"
    assert n <= BUDGETS[name], f"{name}: {n} py4j round trips to build"
