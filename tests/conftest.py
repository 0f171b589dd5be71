from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from white_elephant_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def py4j_commands(spark):
    """``count(build)``: run ``build()`` and return how many py4j
    commands this thread sent meanwhile."""
    client = spark.sparkContext._gateway._gateway_client

    def count(build) -> int:
        send, me, sent = client.send_command, threading.get_ident(), []

        def counting_send(command, *args, **kwargs):
            # "m" commands detach garbage-collected JVM references:
            # their number depends on when Python's GC runs, not on
            # the build.
            if threading.get_ident() == me and not command.startswith("m\n"):
                sent.append(command)
            return send(command, *args, **kwargs)

        client.send_command = counting_send
        try:
            build()
        finally:
            client.send_command = send
        return len(sent)

    return count
