"""No cached or checkpointed block outlives the call that created it.

Every CLI verb and ``q_dedup_components`` must leave the session's
persistent-RDD table as it found it. The test session is shared, so
each check compares against the table just before the call rather than
requiring it to be empty.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from c99_vectordb_spark import cli

SAVE_BATCH = """\
- body: first note about coffee grinders
  metadata: {source: user, rating: 4, when: 2024-01-02}
- body: second note about tea
  metadata: {source: web, rating: 2, tags: [a, b]}
- body: third note about coffee beans
  metadata: {source: user, rating: 5}
"""


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _run(argv) -> int:
    with contextlib.redirect_stdout(io.StringIO()), contextlib.redirect_stderr(
        io.StringIO()
    ):
        return cli.main(argv)


@pytest.fixture()
def db(tmp_path):
    batch = tmp_path / "batch.yaml"
    batch.write_text(SAVE_BATCH, encoding="utf-8")
    return str(tmp_path / "memo"), str(batch)


def test_cli_verbs_release_cached_frames(spark, db):
    base, batch = db
    verbs = [
        ["save", batch],
        ["save", batch],
        ["recall", "-k", "2", "coffee"],
        ["analyze", "--filter", "source: user", "--stats", "rating"],
        ["analyze", "--filter", "source: user", "--stats", "metadata"],
        ["analyze", "--filter", "source: user", "--fields", "id,rating"],
        ["analyze", "--filter", "source: user"],
        ["reindex"],
    ]
    for argv in verbs:
        before = _persisted(spark)
        assert _run(["-f", base, *argv]) == 0, argv
        assert _persisted(spark) - before == set(), argv


def test_dedup_components_releases_edges(spark, sf_dir):
    from c99_vectordb_spark.queries_ext import q_dedup_components

    before = _persisted(spark)
    q_dedup_components(spark, sf_dir).collect()
    assert _persisted(spark) - before == set()
