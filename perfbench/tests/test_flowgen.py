"""The generator is a pure function of its seed, and its truth is exact."""

from __future__ import annotations

import gzip
import hashlib
import os
from collections import Counter

import flowgen


def _digest(paths):
    return [hashlib.sha256(open(p, "rb").read()).hexdigest() for p in paths]


def _reference_parse(raw_lines):
    """A line-by-line reading of the v2 rules: 14 tokens, header skipped,
    version 2 only; the date comes from ``start`` in UTC."""
    rows, rejected, headers = Counter(), 0, 0
    for line in raw_lines:
        toks = line.split(" ")
        if len(toks) == 14 and toks[0] == "version":
            headers += 1
        elif len(toks) == 14 and toks[0] == "2":
            rows[(flowgen._dt(int(toks[10])), toks[1])] += 1
        else:
            rejected += 1
    return rows, rejected, headers


def test_corpus_is_byte_identical_per_seed(tmp_path):
    a, _ = flowgen.write_corpus(str(tmp_path / "a"), 11, 6000, 3)
    b, _ = flowgen.write_corpus(str(tmp_path / "b"), 11, 6000, 3)
    c, _ = flowgen.write_corpus(str(tmp_path / "c"), 12, 6000, 3)
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_corpus_truth_sums_to_lines_written(tmp_path):
    paths, truth = flowgen.write_corpus(str(tmp_path), 5, 9000, 3, n_accounts=6, days=3)
    raw = []
    for p in paths:
        with gzip.open(p, "rt", encoding="ascii") as fh:
            raw.extend(fh.read().splitlines())
    assert truth.lines == len(raw)
    assert truth.valid + truth.rejected + truth.headers == truth.lines
    assert truth.headers == len(paths)
    assert sum(truth.file_rows.values()) == truth.valid
    rows, rejected, headers = _reference_parse(raw)
    assert rows == truth.rows
    assert rejected == truth.rejected > 0
    assert headers == truth.headers
    # every planted kind of line is present
    assert any(" NODATA" in ln for ln in raw) and any(" SKIPDATA" in ln for ln in raw)
    assert any(ln.startswith("3 ") for ln in raw)
    assert len({dt for dt, _ in truth.rows}) == 3


def test_accounts_are_zipf_skewed(tmp_path):
    _, truth = flowgen.write_corpus(str(tmp_path), 3, 20000, 2, n_accounts=8, days=1)
    per_account = sorted(truth.rows.values(), reverse=True)
    assert per_account[0] > 3 * per_account[-1]


def test_drip_files_are_replayable_and_exact():
    src, again = flowgen.DripSource(9, rows_per_file=300), flowgen.DripSource(9, rows_per_file=300)
    for k in (0, 7, 120):
        data, truth = src.flush(k)
        assert data == again.flush(k)[0]
        raw = gzip.decompress(data).decode("ascii").splitlines()
        assert truth.lines == len(raw) == 301
        rows, rejected, headers = _reference_parse(raw)
        assert (rows, rejected, headers) == (truth.rows, truth.rejected, 1)
        # one ENI group of one account, tagged with the file number
        assert len({acct for _, acct in truth.rows}) == 1
        assert truth.file_rows == {f"{k:05x}": truth.valid}
        assert all(ln.split(" ")[2].startswith(f"eni-{k:05x}") for ln in raw[1:] if len(ln.split(" ")) > 2)
