"""Seeded VPC Flow Log v2 generator with its own ground truth.

Every output is a function of the seed alone: the same seed writes the
same bytes (gzip headers carry no timestamp or file name).  Each file
starts with one header line and mixes, at fixed shares:

- valid v2 records over Zipf-skewed accounts spread across several days;
- heavy-hitter source/destination addresses and destination ports;
- NODATA/SKIPDATA records whose traffic fields are ``-``;
- a few port scanners (one source, many rejected destination ports);
- planted bad lines: wrong arity, and well-formed lines with version 3.

The generator returns what a correct converter must produce, so output
checks compare against the generator rather than against the engine:
valid rows per ``(dt, account)``, per-file valid rows, and the number of
lines a lenient parse must reject.
"""

from __future__ import annotations

import gzip
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

HEADER = (
    "version account-id interface-id srcaddr dstaddr srcport dstport "
    "protocol packets bytes start end action log-status"
)

# 2024-03-01T00:00:00Z — every generated day is a whole UTC day after it
EPOCH0 = 1709251200
DAY = 86400

NODATA_SHARE = 0.02  # NODATA + SKIPDATA records ('-' traffic fields)
SCAN_SHARE = 0.005  # rows from the planted port scanners
BAD_ARITY_SHARE = 0.003  # 13- or 15-token lines
BAD_VERSION_SHARE = 0.002  # 14-token lines with version 3
REJECT_SHARE = 0.15

HEAVY_PORTS = np.array([443, 80, 22, 3389, 53, 8080, 123, 5432])
N_HEAVY_ADDRS = 16
N_SCANNERS = 3
GZIP_LEVEL = 6  # the gzip tool's default
N_ACCOUNTS = 8


@dataclass
class Truth:
    """What a lenient conversion of the generated files must produce."""

    lines: int = 0  # every line written, headers included
    headers: int = 0
    rejected: int = 0  # lines a lenient parse drops (bad arity or version)
    rows: Counter = field(default_factory=Counter)  # (dt, account) -> rows
    file_rows: dict = field(default_factory=dict)  # file tag -> valid rows

    @property
    def valid(self) -> int:
        return sum(self.rows.values())

    def merge(self, other: "Truth") -> None:
        self.lines += other.lines
        self.headers += other.headers
        self.rejected += other.rejected
        self.rows.update(other.rows)
        self.file_rows.update(other.file_rows)


def account_ids(rng: np.random.Generator, n: int) -> list[str]:
    return [f"{v:012d}" for v in rng.choice(10**11, size=n, replace=False) + 10**11]


def zipf_weights(n: int, s: float = 1.2) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _dt(ts: int) -> str:
    days = (ts - EPOCH0) // DAY
    return _DATES[days]


def _date_table(n_days: int = 64) -> list[str]:
    import datetime as _d

    base = _d.datetime(2024, 3, 1, tzinfo=_d.timezone.utc)
    return [(base + _d.timedelta(days=i)).strftime("%Y-%m-%d") for i in range(n_days)]


_DATES = _date_table()


def make_lines(
    rng: np.random.Generator,
    n: int,
    accounts: list[str],
    acct_p: np.ndarray | None,
    days: int,
    eni_prefix: str | None = None,
    first_day: int = 0,
) -> tuple[list[str], Truth]:
    """``n`` record lines (no header) and their truth.

    ``acct_p`` None means every row belongs to ``accounts[0]`` (one ENI
    group's flush).  ``eni_prefix`` pins the 5 leading hex digits of each
    interface id, so a file's rows can be told apart after conversion.
    """
    truth = Truth(lines=n)
    if acct_p is None:
        acct = np.zeros(n, dtype=np.int64)
    else:
        acct = rng.choice(len(accounts), size=n, p=acct_p)
    day = rng.integers(first_day, first_day + days, size=n)
    start = EPOCH0 + day * DAY + rng.integers(0, DAY - 600, size=n)
    end = start + rng.integers(1, 600, size=n)
    eni = rng.integers(0, 4096, size=n)

    heavy_src = rng.random(n) < 0.6
    heavy_dst = rng.random(n) < 0.5
    src_a = np.where(heavy_src, 0, rng.integers(1, 256, size=n))
    src_b = np.where(heavy_src, 0, rng.integers(0, 256, size=n))
    src_c = np.where(heavy_src, rng.integers(0, N_HEAVY_ADDRS, size=n), rng.integers(1, 255, size=n))
    dst_b = np.where(heavy_dst, 0, rng.integers(1, 256, size=n))
    dst_c = np.where(heavy_dst, rng.integers(0, N_HEAVY_ADDRS, size=n), rng.integers(1, 255, size=n))
    srcport = rng.integers(1024, 65536, size=n)
    dstport = np.where(
        rng.random(n) < 0.8,
        HEAVY_PORTS[rng.integers(0, len(HEAVY_PORTS), size=n)],
        rng.integers(1, 65536, size=n),
    )
    proto = np.where(rng.random(n) < 0.8, 6, np.where(rng.random(n) < 0.9, 17, 1))
    packets = rng.integers(1, 1000, size=n)
    nbytes = packets * rng.integers(40, 1500, size=n)
    reject = rng.random(n) < REJECT_SHARE

    kind = rng.random(n)
    scan = kind < SCAN_SHARE
    nodata = (kind >= SCAN_SHARE) & (kind < SCAN_SHARE + NODATA_SHARE)
    bad_cut = SCAN_SHARE + NODATA_SHARE
    bad_arity = (kind >= bad_cut) & (kind < bad_cut + BAD_ARITY_SHARE)
    bad_version = (kind >= bad_cut + BAD_ARITY_SHARE) & (
        kind < bad_cut + BAD_ARITY_SHARE + BAD_VERSION_SHARE
    )
    scanner = rng.integers(0, N_SCANNERS, size=n)
    scan_port = rng.integers(1, 1025, size=n)
    skip = rng.random(n) < 0.5

    (acct, start, end, eni, src_a, src_b, src_c, dst_b, dst_c, srcport, dstport,
     proto, packets, nbytes, reject, scan, nodata, bad_arity, bad_version,
     scanner, scan_port, skip) = (
        v.tolist()
        for v in (acct, start, end, eni, src_a, src_b, src_c, dst_b, dst_c,
                  srcport, dstport, proto, packets, nbytes, reject, scan,
                  nodata, bad_arity, bad_version, scanner, scan_port, skip)
    )
    lines = []
    rows = truth.rows
    for i in range(n):
        a = accounts[acct[i]]
        e = f"eni-{eni_prefix}{eni[i]:03x}" if eni_prefix else f"eni-{acct[i]:02x}{eni[i]:06x}"
        s, t = start[i], end[i]
        if nodata[i]:
            status = "SKIPDATA" if skip[i] else "NODATA"
            line = f"2 {a} {e} - - - - - - - {s} {t} - {status}"
        elif scan[i]:
            line = (
                f"2 {a} {e} 198.51.100.{scanner[i] + 7} 10.0.0.{dst_c[i]} "
                f"{srcport[i]} {scan_port[i]} 6 1 44 {s} {t} REJECT OK"
            )
        else:
            action = "REJECT" if reject[i] else "ACCEPT"
            line = (
                f"2 {a} {e} 10.{src_a[i]}.{src_b[i]}.{src_c[i]} "
                f"172.16.{dst_b[i]}.{dst_c[i]} {srcport[i]} {dstport[i]} "
                f"{proto[i]} {packets[i]} {nbytes[i]} {s} {t} {action} OK"
            )
        if bad_arity[i]:
            line = line.rsplit(" ", 1)[0] if skip[i] else line + " extra"
            truth.rejected += 1
        elif bad_version[i]:
            line = "3" + line[1:]
            truth.rejected += 1
        else:
            rows[(_dt(s), a)] += 1
        lines.append(line)
    return lines, truth


def write_gz(path: str, header: bool, lines: list[str]) -> None:
    """Write lines gzip-compressed, after the header line if ``header``."""
    body = "\n".join(([HEADER] if header else []) + lines) + "\n"
    with open(path, "wb") as raw:
        with gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, compresslevel=GZIP_LEVEL, mtime=0
        ) as gz:
            gz.write(body.encode("ascii"))


def write_corpus(
    out_dir: str,
    seed: int,
    n_lines: int,
    n_shards: int,
    n_accounts: int = N_ACCOUNTS,
    days: int = 2,
) -> tuple[list[str], Truth]:
    """The backfill input: ``n_shards`` gzip files of about ``n_lines``
    record lines in total, one header each."""
    rng = np.random.default_rng(seed)
    accounts = account_ids(rng, n_accounts)
    acct_p = zipf_weights(n_accounts)
    os.makedirs(out_dir, exist_ok=True)
    truth = Truth()
    paths = []
    per = n_lines // n_shards
    for k in range(n_shards):
        lines, t = make_lines(rng, per, accounts, acct_p, days)
        path = os.path.join(out_dir, f"part-{k:03d}.log.gz")
        write_gz(path, True, lines)
        t.lines += 1
        t.headers += 1
        t.file_rows[f"part-{k:03d}"] = t.valid
        truth.merge(t)
        paths.append(path)
    return paths, truth


class DripSource:
    """The trickle input: one small gzip file per flush of one ENI group.

    ``flush(k)`` returns file ``k``'s bytes and truth; it depends only on
    the seed and ``k``, so a drip can be replayed file by file.  Each
    file belongs to one account (Zipf-chosen) and one day, and its
    interface ids carry ``k`` so exactly-once can be checked per file.
    """

    def __init__(self, seed: int, rows_per_file: int):
        self.seed = seed
        self.rows_per_file = rows_per_file
        self.accounts = account_ids(np.random.default_rng(seed), N_ACCOUNTS)
        self.acct_p = zipf_weights(N_ACCOUNTS)

    def flush(self, k: int) -> tuple[bytes, Truth]:
        rng = np.random.default_rng([self.seed, k])
        acct = self.accounts[rng.choice(len(self.accounts), p=self.acct_p)]
        lines, truth = make_lines(
            rng,
            self.rows_per_file,
            [acct],
            None,
            days=1,
            eni_prefix=f"{k:05x}",
            first_day=k // 50 % 2,  # files 0-49 on day one, 50-99 on day two, ...
        )
        truth.lines += 1
        truth.headers += 1
        truth.file_rows[f"{k:05x}"] = truth.valid
        body = "\n".join([HEADER] + lines) + "\n"
        return gzip.compress(body.encode("ascii"), compresslevel=GZIP_LEVEL, mtime=0), truth
