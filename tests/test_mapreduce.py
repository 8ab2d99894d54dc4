"""Layer A golden tests: the reference's canonical jobs (SURVEY.md §5)
run through MapReduceJob — word count, grep, distinct, inverted index,
identity-sort, reduce-side join."""

from __future__ import annotations

import hashlib
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from map_reduce485_spark.mapreduce import JobRequest, MapReduceJob, md5_partition
from map_reduce485_spark.mapreduce.job import extract_key


@pytest.fixture()
def text_input(tmp_path: Path) -> Path:
    ind = tmp_path / "input"
    ind.mkdir()
    (ind / "a.txt").write_text("the quick brown fox\nthe lazy dog\n\nthe end\n")
    (ind / "b.txt").write_text("quick quick fox\nüber fox\n")
    (ind / "c.txt").write_text("tab\there stays\n")
    return ind


def read_parts(out: Path) -> list[tuple[int, list[str]]]:
    parts = sorted(p for p in out.iterdir() if p.name.startswith("part-"))
    return [(i, p.read_text().splitlines()) for i, p in enumerate(parts)]


def make_wc():
    """Nested defs → cloudpickle serializes by value (module-level test
    functions aren't importable on Spark's Python workers)."""

    def wc_map(line: str):
        for w in line.split():
            yield f"{w}\t1"

    def wc_reduce(key: str, values):
        yield f"{key}\t{sum(int(v) for v in values)}"

    return wc_map, wc_reduce


EXPECTED_WC = {
    "the": 3,
    "quick": 3,
    "brown": 1,
    "fox": 3,
    "lazy": 1,
    "dog": 1,
    "end": 1,
    "über": 1,
    "tab\there": 1,  # str.split() splits on the tab: 'tab', 'here'... see below
}


def test_wordcount_callable(spark, text_input, tmp_path):
    out = tmp_path / "out"
    wc_map, wc_reduce = make_wc()
    MapReduceJob(spark, JobRequest(str(text_input), str(out), wc_map, wc_reduce, 2, 2)).run()
    got: dict[str, int] = {}
    for _, lines in read_parts(out):
        for line in lines:
            k, v = line.split("\t", 1)
            got[k] = got.get(k, 0) + int(v)
    # python str.split() splits the embedded tab into two words
    assert got["the"] == 3 and got["quick"] == 3 and got["fox"] == 3
    assert got["über"] == 1 and got["tab"] == 1 and got["here"] == 1
    assert sum(got.values()) == 17


def test_wordcount_executable(spark, text_input, tmp_path):
    """Bit-faithful executable contract via RDD.pipe (reference
    worker/__main__.py:105-110)."""
    mapper = tmp_path / "map.sh"
    mapper.write_text("#!/bin/sh\ntr ' \\t' '\\n\\n' | awk 'NF {print $0 \"\\t1\"}'\n")
    reducer = tmp_path / "red.sh"
    reducer.write_text(
        "#!/bin/sh\nawk -F'\\t' '{c[$1]+=$2} END {for (k in c) print k \"\\t\" c[k]}'\n"
    )
    out = tmp_path / "out"
    MapReduceJob(
        spark,
        JobRequest(str(text_input), str(out), f"sh {mapper}", f"sh {reducer}", 2, 3),
    ).run()
    got: dict[str, int] = {}
    for _, lines in read_parts(out):
        for line in lines:
            k, v = line.split("\t", 1)
            got[k] = got.get(k, 0) + int(v)
    assert got["the"] == 3 and got["fox"] == 3 and got["über"] == 1
    assert sum(got.values()) == 17


def test_failing_executable_fails_the_job(spark, text_input, tmp_path):
    """A mapper that exits non-zero after emitting output must fail the job,
    not leave truncated part files behind a successful run()."""
    mapper = tmp_path / "fail.sh"
    mapper.write_text("#!/bin/sh\nprintf 'partial\\t1\\n'\nexit 3\n")
    command = f"sh {mapper}"
    out = tmp_path / "out"
    with pytest.raises(Py4JJavaError) as exc:
        MapReduceJob(spark, JobRequest(str(text_input), str(out), command, "cat", 2, 1)).run()
    assert command in str(exc.value)
    assert not (out / "_SUCCESS").exists()


def test_md5_placement_and_sorted_runs(spark, text_input, tmp_path):
    """Reference parity: key→partition by md5 (worker/__main__.py:117-121);
    reduce input sorted by whole line (worker/__main__.py:161,201) — with an
    identity reducer the output preserves that order per part file."""
    out = tmp_path / "out"
    num_r = 3
    wc_map, _ = make_wc()

    def identity_reduce(key, values):
        for v in values:
            yield f"{key}\t{v}" if v else key

    MapReduceJob(
        spark, JobRequest(str(text_input), str(out), wc_map, identity_reduce, 2, num_r)
    ).run()
    for pid, lines in read_parts(out):
        assert lines == sorted(lines), f"part {pid} not whole-line sorted"
        for line in lines:
            assert md5_partition(extract_key(line), num_r) == pid


def test_identity_sort_single_reducer(spark, text_input, tmp_path):
    """1 reducer ⇒ globally sorted output (reference global-sort idiom,
    SURVEY.md §2.b)."""
    out = tmp_path / "out"
    MapReduceJob(
        spark,
        JobRequest(str(text_input), str(out), lambda l: [l] if l else [], "cat", 2, 1),
    ).run()
    parts = read_parts(out)
    assert len(parts) == 1
    lines = parts[0][1]
    assert lines == sorted(lines)
    assert len(lines) == 6  # non-empty input lines


def test_grep_job(spark, text_input, tmp_path):
    out = tmp_path / "out"
    MapReduceJob(
        spark,
        JobRequest(
            str(text_input),
            str(out),
            lambda l: [l] if "fox" in l else [],
            "cat",
            2,
            1,
        ),
    ).run()
    lines = read_parts(out)[0][1]
    assert len(lines) == 3 and all("fox" in l for l in lines)


def test_inverted_index_job(spark, tmp_path):
    ind = tmp_path / "input"
    ind.mkdir()
    (ind / "d0.txt").write_text("apple banana\n")
    (ind / "d1.txt").write_text("banana cherry\n")

    def ii_map_factory():
        # emulate per-file doc ids via content marker
        def m(line):
            doc = "d0" if "apple" in line else "d1"
            for w in line.split():
                yield f"{w}\t{doc}"

        return m

    def ii_reduce(key, values):
        yield f"{key}\t{','.join(sorted(set(values)))}"

    out = tmp_path / "out"
    MapReduceJob(spark, JobRequest(str(ind), str(out), ii_map_factory(), ii_reduce, 1, 1)).run()
    got = dict(l.split("\t", 1) for l in read_parts(out)[0][1])
    assert got == {"apple": "d0", "banana": "d0,d1", "cherry": "d1"}


def test_reduce_side_join(spark, tmp_path):
    """Reduce-side equi-join (SURVEY.md §2.b): tagged records, key-grouped
    merge in the reducer."""
    ind = tmp_path / "input"
    ind.mkdir()
    (ind / "users.txt").write_text("U\t1\talice\nU\t2\tbob\n")
    (ind / "orders.txt").write_text("O\t1\tbook\nO\t1\tpen\nO\t2\tmug\n")

    def jmap(line):
        tag, key, val = line.split("\t")
        yield f"{key}\t{tag}:{val}"

    def jreduce(key, values):
        vals = list(values)
        users = [v[2:] for v in vals if v.startswith("U:")]
        orders = [v[2:] for v in vals if v.startswith("O:")]
        for u in users:
            for o in orders:
                yield f"{key}\t{u}\t{o}"

    out = tmp_path / "out"
    MapReduceJob(spark, JobRequest(str(ind), str(out), jmap, jreduce, 2, 2)).run()
    rows = sorted(l for _, lines in read_parts(out) for l in lines)
    assert rows == ["1\talice\tbook", "1\talice\tpen", "2\tbob\tmug"]


def test_overwrite_semantics(spark, text_input, tmp_path):
    """Output dir cleared per job (reference manager/__main__.py:95-101)."""
    out = tmp_path / "out"
    out.mkdir()
    (out / "stale.txt").write_text("leftover\n")
    wc_map, wc_reduce = make_wc()
    MapReduceJob(spark, JobRequest(str(text_input), str(out), wc_map, wc_reduce, 1, 1)).run()
    assert not (out / "stale.txt").exists()
    assert any(p.name.startswith("part-") for p in out.iterdir())


def test_overwrite_file_uri_twice(spark, text_input, tmp_path):
    """Round-5 verdict item 6: the overwrite path goes through the Hadoop
    FileSystem API, so the SAME job run twice against a ``file:``-URI
    output (the non-local-pathlib shape a cluster output dir has) succeeds
    — the second run clears the first run's part files instead of failing
    on an existing directory."""
    out_uri = f"file://{tmp_path}/out_uri"
    wc_map, wc_reduce = make_wc()
    req = JobRequest(str(text_input), out_uri, wc_map, wc_reduce, 1, 1)
    MapReduceJob(spark, req).run()
    first = sorted((tmp_path / "out_uri").glob("part-*"))
    assert first
    MapReduceJob(spark, req).run()
    rows = sorted(
        l
        for p in (tmp_path / "out_uri").glob("part-*")
        for l in p.read_text().splitlines()
    )
    assert {tuple(r.split("\t", 1)) for r in rows} >= {("the", "3"), ("fox", "3")}


def test_delete_output_dir_fs_api(spark, tmp_path):
    """Unit test of the Hadoop-FS delete branch: deletes an existing dir
    (returns True) through a file: URI, and is a no-op returning False on a
    missing path."""
    from map_reduce485_spark.mapreduce.job import delete_output_dir

    d = tmp_path / "victim"
    (d / "nested").mkdir(parents=True)
    (d / "nested" / "x.txt").write_text("bye\n")
    assert delete_output_dir(spark, f"file://{d}") is True
    assert not d.exists()
    assert delete_output_dir(spark, f"file://{d}") is False
    # plain local path (no scheme) resolves through the same API
    e = tmp_path / "victim2"
    e.mkdir()
    assert delete_output_dir(spark, str(e)) is True
    assert not e.exists()


def test_job_queue_fifo_status(spark, text_input, tmp_path):
    """Multi-job FIFO queue with monotonic ids + status lifecycle (reference
    op #11, manager/__main__.py:89-104; fixes the one-job quirk at :217)."""
    from map_reduce485_spark.mapreduce import JobQueue, JobRequest

    wc_map, wc_reduce = make_wc()
    q = JobQueue(spark)
    out1, out2 = tmp_path / "o1", tmp_path / "o2"
    j1 = q.submit(JobRequest(str(text_input), str(out1), wc_map, wc_reduce, 1, 1))
    j2 = q.submit(JobRequest(str(text_input), str(out2), wc_map, wc_reduce, 1, 2))
    assert (j1, j2) == (0, 1)
    assert q.wait(j1) == "succeeded"
    assert q.wait(j2) == "succeeded"
    assert any(p.name.startswith("part-") for p in out1.iterdir())
    assert sum(p.name.startswith("part-") for p in out2.iterdir()) == 2

    # a failing job reports failed (+ error) and does not wedge the queue
    j3 = q.submit(JobRequest("/nonexistent-input-dir", str(tmp_path / "o3"), wc_map, wc_reduce, 1, 1))
    assert q.wait(j3) == "failed"
    assert q.error(j3)
    j4 = q.submit(JobRequest(str(text_input), str(tmp_path / "o4"), wc_map, wc_reduce, 1, 1))
    assert q.wait(j4) == "succeeded"
    q.shutdown()


def test_wordcount_gzip_input(spark, tmp_path):
    """Compressed text input works through the same job (the reference
    streams raw bytes only; gzip decode is a Spark-native upgrade)."""
    import gzip

    ind = tmp_path / "gzin"
    ind.mkdir()
    with gzip.open(ind / "a.txt.gz", "wt") as f:
        f.write("alpha beta\nalpha\n")
    wc_map, wc_reduce = make_wc()
    out = tmp_path / "gzout"
    MapReduceJob(spark, JobRequest(str(ind), str(out), wc_map, wc_reduce, 1, 1)).run()
    counts = {}
    for _, lines in read_parts(out):
        for line in lines:
            k, v = line.split("\t", 1)
            counts[k] = counts.get(k, 0) + int(v)
    assert counts == {"alpha": 2, "beta": 1}


def test_stateful_mapper_runs_per_partition_not_per_file(spark, tmp_path):
    """Pin the documented divergence from the reference (SURVEY.md §7.3,
    job.py:_apply_mapper): the reference spawns the mapper executable once
    per input FILE (worker/__main__.py:104-110); RDD.pipe spawns it once per
    PARTITION.  For the line-streaming contract (stateless per line) the
    two are equivalent; a mapper carrying cross-line state observes the
    difference.  This test uses such a mapper — awk counting its own input
    lines, emitting one record per invocation — and asserts (a) aggregate
    totals are invariant anyway, and (b) the invocation count equals the
    partition count of the input RDD, NOT the file count, which is the
    stated assumption."""
    ind = tmp_path / "input"
    ind.mkdir()
    # 2 files, num_mappers=4: Hadoop byte-range splitting makes >2 splits,
    # so per-partition invocations must exceed the reference's per-file count
    (ind / "a.txt").write_text("one\ntwo\nthree\nfour\nfive\nsix\nseven\neight\n")
    (ind / "b.txt").write_text("ichi\nni\nsan\nshi\ngo\nroku\n")
    n_lines = 14
    n_mappers = 4

    # one `invocations\t<line-count>` record per mapper process
    mapper = "awk '{n++} END {print \"invocations\\t\" n}'"
    reducer_sh = tmp_path / "sum_count.sh"
    reducer_sh.write_text(
        "#!/bin/sh\n"
        "awk -F'\\t' '{s[$1]+=$2; c[$1]++} END {for (k in s) print k \"\\t\" s[k] \"\\t\" c[k]}'\n"
    )
    out = tmp_path / "out"
    MapReduceJob(
        spark,
        JobRequest(str(ind), str(out), mapper, f"sh {reducer_sh}", n_mappers, 1),
    ).run()

    expected_partitions = spark.sparkContext.textFile(
        str(ind), minPartitions=n_mappers
    ).getNumPartitions()
    assert expected_partitions > 2  # the premise: more partitions than files

    rows = [line for _, lines in read_parts(out) for line in lines]
    assert len(rows) == 1
    key, total, n_invocations = rows[0].split("\t")
    assert key == "invocations"
    assert int(total) == n_lines  # aggregate invariant under granularity
    # per-partition, not per-file: 2 files but `expected_partitions` spawns
    assert int(n_invocations) == expected_partitions
