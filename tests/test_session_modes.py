"""Session acquisition modes (reference sparkdf_data_source.py:224-274):
existing > active > remote (Spark Connect URI) > new local. No Spark
Connect server exists in the sandbox, so the remote mode is covered at
the URI-construction layer and the mode-precedence logic is covered with
real sessions.
"""

import subprocess
import sys
from pathlib import Path

import pytest

from soda_core_spark.sources.session import build_remote_uri, get_session

ROOT = Path(__file__).resolve().parents[1]


def test_build_remote_uri_full():
    uri = build_remote_uri("dbc.example.com", token="tok123", cluster_id="c-9")
    assert uri == (
        "sc://dbc.example.com:443/;use_ssl=true;token=tok123"
        ";x-databricks-cluster-id=c-9"
    )


def test_build_remote_uri_minimal_and_prefix_strip():
    assert build_remote_uri("sc://h", use_ssl=False) == "sc://h:443/"
    assert build_remote_uri("h", port=15002, use_ssl=False) == "sc://h:15002/"


def test_existing_session_wins(spark):
    assert get_session(existing=spark) is spark


def test_active_session_mode(spark):
    # the test fixture's session is the thread-local active one
    assert get_session(use_active=True) is spark


def test_active_session_mode_without_session_raises():
    # subprocess: a fresh interpreter has no active session
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "from soda_core_spark.sources.session import get_session\n"
            "try:\n"
            "    get_session(use_active=True)\n"
            "except ValueError as e:\n"
            "    assert 'no active SparkSession' in str(e)\n"
            "    print('OK')\n",
        ],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=120,
    )
    assert "OK" in r.stdout, r.stderr[-1500:]


def test_remote_uri_passthrough_vs_built():
    # a full URI (contains ';') is passed through untouched; a bare host
    # with a token is assembled — assert via the builder, not a live
    # connection (no Spark Connect server in the sandbox)
    full = "sc://h:443/;use_ssl=true;token=t"
    assert ";" in full  # passthrough branch condition in get_session
    assert build_remote_uri("h", token="t") == "sc://h:443/;use_ssl=true;token=t"


def test_build_remote_uri_host_with_port_not_doubled():
    assert build_remote_uri("h:15002", use_ssl=False) == "sc://h:15002/"
    assert build_remote_uri("sc://h:15002/", token="t") == (
        "sc://h:15002/;use_ssl=true;token=t"
    )
