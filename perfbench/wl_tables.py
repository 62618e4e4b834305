"""The ``ingest_incremental`` workload over seeded single-word ``.txt``
files under ``day=YYYY-MM-DD`` directories, and its state checks.

The generator keeps the truth (filename -> day, word) for every source
file, so the checks never trust a count the engine reports.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import time
import urllib.parse
from collections import Counter

from harness import Recorder, median, mid_mean

WORDS = [
    "spark", "delta", "stream", "batch", "merge", "append", "filter", "window",
    "join", "shuffle", "partition", "column", "vector", "hash", "scan", "sort",
    "agg", "row", "table", "query", "a", "incremental", "commit", "snapshot",
]
# The pipeline's one expectation; the generator makes some files violate
# it (a digit in the word), and those rows go to quarantine.
RULES = {"alpha_word": "word RLIKE '^[a-z]+$'"}
_GOOD = re.compile(r"^[a-z]+$")
BAD_SHARE = 0.05
FIRST_DAY = dt.date(2024, 3, 1)


def day_name(i: int) -> str:
    return (FIRST_DAY + dt.timedelta(days=i)).isoformat()


def is_good(word: str) -> bool:
    return bool(_GOOD.match(word))


class WordFiles:
    """Seeded source-file generator and the truth of what it wrote."""

    def __init__(self, root: str, rng: random.Random) -> None:
        self.root = root
        self.rng = rng
        self.truth: dict[str, tuple[str, str]] = {}  # filename -> (day, word)
        self.seq = 0

    def _write(self, day: str, name: str, bad: bool) -> None:
        word = self.rng.choice(WORDS)
        if bad:
            word = f"{word}{self.rng.randrange(10)}"
        d = os.path.join(self.root, f"day={day}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, name), "w") as fh:
            fh.write(word)
        self.truth[name] = (day, word)

    def land(self, days: list[str], bad: list[bool]) -> None:
        """One new file per entry of ``days``; ``bad`` says which files
        violate the expectation."""
        for day, b in zip(days, bad):
            self._write(day, f"f{self.seq:06d}.txt", b)
            self.seq += 1

    def files_of(self, day: str) -> list[str]:
        return sorted(n for n, (d, _) in self.truth.items() if d == day)

    def mutate(self, day: str) -> None:
        """Rewrite two of ``day``'s files, remove one and add two, one of
        which violates the expectation: a refresh of the same size, which
        always replaces quarantine rows, whatever the seed."""
        names = self.files_of(day)
        self.rng.shuffle(names)
        for name in names[:2]:
            self._write(day, name, bad=False)
        for name in names[2:3]:
            os.remove(os.path.join(self.root, f"day={day}", name))
            del self.truth[name]
        self.land([day, day], bad=[False, True])

    def good_words(self, day: str | None = None) -> dict[str, str]:
        return {
            n: w for n, (d, w) in self.truth.items() if is_good(w) and (day is None or d == day)
        }


def data_files(table) -> set[str]:
    """Data files a read of ``table`` scans, relative to the table root."""
    base = os.path.abspath(table.path)
    out = set()
    for uri in table.read().inputFiles():
        path = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
        out.add(os.path.relpath(path, base))
    return out


def verify_tables(pipe, files: WordFiles, rec: Recorder) -> None:
    """processed ∪ quarantine hold each source file exactly once with its
    word; backwards reverses processed; listing lists every file; each
    exported ``_delta_log`` replays to the live file set."""
    from incremental_dagster_delta_spark.deltalog import replay_file_set

    processed = pipe.processed.read().select("filename", "word", "year", "month", "day").collect()
    quarantine = (
        pipe.quarantine.read().select("filename", "word", "day").collect()
        if pipe.quarantine.exists()
        else []
    )
    seen = Counter(r["filename"] for r in processed) + Counter(r["filename"] for r in quarantine)
    rec.check(
        "exactly_once",
        seen == Counter(files.truth.keys()),
        f"{sum(seen.values())} rows for {len(files.truth)} files",
    )
    bad = [
        r["filename"]
        for r in processed
        if files.truth.get(r["filename"]) != (f"{r['year']}-{r['month']}-{r['day']}", r["word"])
        or not is_good(r["word"])
    ] + [
        r["filename"]
        for r in quarantine
        if files.truth.get(r["filename"]) != (r["day"], r["word"]) or is_good(r["word"])
    ]
    rec.check("words_and_days", not bad, f"wrong rows: {bad[:5]}")
    back = {r["filename"]: r["word"] for r in pipe.backwards.read().select("filename", "word").collect()}
    want_back = {r["filename"]: r["word"][::-1] for r in processed}
    rec.check("backwards", back == want_back, f"{len(back)} rows, {len(want_back)} expected")
    listing = {(r["filename"], r["day"]) for r in pipe.listing.read().select("filename", "day").collect()}
    want_listing = {(n, d) for n, (d, _) in files.truth.items()}
    rec.check("listing", listing == want_listing, f"{len(listing)} rows, {len(want_listing)} files")
    for table in (pipe.processed, pipe.backwards, pipe.listing, pipe.quarantine):
        if not table.exists():
            continue
        replayed = set(replay_file_set(os.path.join(table.path, "_delta_log")))
        live = data_files(table)
        rec.check(
            f"delta_log:{os.path.basename(os.path.dirname(table.path))}",
            replayed == live,
            f"{len(replayed ^ live)} files differ",
        )


def _make_pipeline(spark, work_dir: str):
    from incremental_dagster_delta_spark.streaming import IngestPipeline

    src = os.path.join(work_dir, "source")
    os.makedirs(src, exist_ok=True)
    pipe = IngestPipeline(
        spark, src, os.path.join(work_dir, "tables"), expectations=RULES, export_delta_log=True
    )
    return src, pipe


class IngestIncremental:
    """Set-up lands a seeded history over ``HISTORY_DAYS`` days (``BAD_SHARE``
    of its files, exactly, violate the expectation) and backfills it. Each
    timed cycle then:

    - lands a wave and runs a tick;
    - runs ``IDLE_PER_WAVE`` ticks with no new files;
    - rewrites, removes and adds some of one history day's source files
      (``WordFiles.mutate``) and runs ``refresh(day)``;
    - reads that day back with partition pruning, and runs a full-table
      aggregate read. Both reads are checked against the generator.

    A wave is 4-12 files: one late file on an older day, the rest on the
    newest day; the second wave of every three opens a new day. Exactly one
    file of every wave, at a seeded position, violates the expectation, so
    every tick writes quarantine: a tick that writes quarantine runs ~20%
    slower than one that does not, and a seeded share would make the tick
    median depend on the seed. A run has two cycles, so each median is the
    mean of the two; the first tick after the backfill is the first to take
    the listing anti-join path and runs ~30% slower, in every run alike.
    """

    HISTORY_FILES = 48
    HISTORY_DAYS = 6
    IDLE_PER_WAVE = 6
    MIN_CYCLES = 2

    def __init__(self, spark, seed: int, work_dir: str, rec: Recorder, tracer=None) -> None:
        self.rng = random.Random(seed)
        self.rec = rec
        self.tracer = tracer
        src, self.pipe = _make_pipeline(spark, work_dir)
        self.files = WordFiles(src, self.rng)
        self.today = self.HISTORY_DAYS - 1

    def setup(self) -> None:
        n = self.HISTORY_FILES
        days = [day_name(self.rng.randrange(self.HISTORY_DAYS)) for _ in range(n)]
        bad = [False] * n
        for i in self.rng.sample(range(n), round(n * BAD_SHARE)):
            bad[i] = True
        self.files.land(days, bad)
        self.pipe.run_incremental()

    def _land_wave(self, waves: int) -> int:
        n = self.rng.randint(4, 12)
        if waves % 3 == 1:
            self.today += 1
        days = [day_name(self.rng.randrange(self.today))] + [day_name(self.today)] * (n - 1)
        bad = [False] * n
        bad[self.rng.randrange(n)] = True
        self.files.land(days, bad)
        return n

    def _tick(self, kind: str, n_files: int) -> None:
        with self.rec.op(kind, files=n_files, history=len(self.files.truth) - n_files) as op:
            self.pipe.run_incremental()
        if self.tracer is not None:
            self.tracer.streaming_tick(op)

    def _refresh(self) -> str:
        day = day_name(self.rng.randrange(self.HISTORY_DAYS))
        self.files.mutate(day)
        with self.rec.op("refresh", day=day):
            self.pipe.refresh(day)
        return day

    def _read_pruned(self, day: str) -> None:
        y, m, d = day.split("-")
        with self.rec.op("read_pruned", day=day) as op:
            rows = (
                self.pipe.processed.read(f"year = '{y}' AND month = '{m}' AND day = '{d}'")
                .select("filename", "word")
                .collect()
            )
            op.ok = {r["filename"]: r["word"] for r in rows} == self.files.good_words(day)

    def _read_full(self) -> None:
        with self.rec.op("read_full") as op:
            rows = self.pipe.processed.read().groupBy("word").count().collect()
            got = {r["word"]: r["count"] for r in rows}
            op.ok = got == Counter(self.files.good_words().values())
            op.info["rows"] = sum(got.values())

    def loop(self, deadline: float) -> None:
        waves = 0
        while waves < self.MIN_CYCLES or time.perf_counter() < deadline:
            self._tick("tick", self._land_wave(waves))
            for _ in range(self.IDLE_PER_WAVE):
                self._tick("idle_tick", 0)
            self._read_pruned(self._refresh())
            self._read_full()
            waves += 1

    def verify(self) -> None:
        verify_tables(self.pipe, self.files, self.rec)

    def n_primary(self) -> int:
        return len(self.rec.of("tick"))

    def metrics(self) -> tuple[dict, dict]:
        def p50(kind: str, cpu: bool = False) -> float:
            return median(o.cpu if cpu else o.wall for o in self.rec.of(kind))

        ticks = self.rec.of("tick")
        files_per_s = sum(o.info["files"] for o in ticks if o.ok) / sum(o.wall for o in ticks)
        full = self.rec.of("read_full")
        rows_per_s = sum(o.info.get("rows", 0) for o in full) / sum(o.wall for o in full)
        generic = {
            "op_cpu_s": p50("tick", cpu=True) + p50("refresh", cpu=True),
            "light_op_cpu_s": mid_mean(o.cpu for o in self.rec.of("idle_tick")),
        }
        named = {
            "ingest_tick_p50_s": (p50("tick"), "s"),
            "ingest_idle_tick_p50_s": (p50("idle_tick"), "s"),
            "ingest_files_per_s": (files_per_s, "1/s"),
            "tick_cpu_p50_s": (p50("tick", cpu=True), "s"),
            "refresh_p50_s": (p50("refresh"), "s"),
            "refresh_cpu_p50_s": (p50("refresh", cpu=True), "s"),
            "read_pruned_p50_s": (p50("read_pruned"), "s"),
            "read_full_p50_s": (p50("read_full"), "s"),
            "read_full_rows_per_s": (rows_per_s, "1/s"),
            "ticks": (len(ticks), "count"),
            "files_committed": (len(self.files.truth), "count"),
        }
        return generic, named
