"""Seeded input generators. The same seed gives the same bytes.

- FAKE-EMD hyperspectral files (a 3-D EDS cube, a 2-D HAADF signal
  and JSON metadata stamped with the file's due time), written by
  ``io.emd.write_fake_emd``;
- FAKE-EMD spatiotemporal frame stacks (T x X x Y);
- a text corpus shaped like the repo's ``documents`` table, with
  planted exact duplicates, near duplicates, low-quality and
  repetitive documents, plus the benchmark-docs sample, a URL
  column and a token budget for the curation funnel.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

#: Paper's mean hyperspectral file (BASELINE.md: 0.089 GB/file).
PAPER_HS_BYTES = 0.089e9
#: Paper's mean spatiotemporal file (BASELINE.md: 1.206 GB/file).
PAPER_ST_BYTES = 1.206e9

HS_CUBE = (32, 32, 128)      # X, Y, energy channels
HS_RATE = 12.0               # files per second, open loop (minimum)
HS_MIN_FILES = 100           # drops per run
ST_STACK = (16, 128, 128)    # T, X, Y
ST_FILES = 4                 # stacks per acquisition session
CORPUS_DOCS = 200
BENCH_SAMPLE = 25            # benchmark docs sampled from the corpus

STOPWORDS = ("the", "a", "of", "and", "to", "is", "in")
VOCAB = ("agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small "
         "sort spark stream table value vector window").split()


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def write_atomic(path: str, data: bytes) -> None:
    """Write under a temporary name, then rename into place."""
    tmp = os.path.join(os.path.dirname(path),
                       "." + os.path.basename(path) + ".part")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, path)


# --------------------------------------------------------------------------
# FAKE-EMD files


def hs_file(seed: int, index: int, due_s: float,
            shape: tuple[int, int, int] = HS_CUBE) -> bytes:
    from picoprobedataflow_spark.io.emd import write_fake_emd
    rng = _rng(seed, 1, index)
    cube = rng.gamma(2.0, 20.0, size=shape).astype("f4")
    haadf = rng.random(shape[:2], dtype="f4")
    meta = {"seed": seed, "index": index, "due_s": round(due_s, 6),
            "detector": "EDS", "dims": list(shape)}
    return write_fake_emd([("EDS", cube, meta),
                           ("HAADF", haadf, {"index": index})])


def st_file(seed: int, session: int, index: int,
            shape: tuple[int, int, int] = ST_STACK) -> bytes:
    from picoprobedataflow_spark.io.emd import write_fake_emd
    rng = _rng(seed, 2, session, index)
    frames = rng.normal(100.0, 15.0, size=shape).astype("f4")
    meta = {"seed": seed, "session": session, "index": index,
            "dims": list(shape)}
    return write_fake_emd([("frames", frames, meta)])


@dataclass
class Drop:
    path: str
    due: float          # monotonic due time
    written: float      # monotonic time the rename completed
    sha256: str
    nbytes: int


@dataclass
class DropGenerator:
    """Open-loop writer: one thread renames file ``i`` into
    ``directory`` at ``t0 + i / rate``. File bytes are built before
    the schedule starts, so the thread only writes."""

    directory: str
    seed: int
    n_files: int
    rate: float = HS_RATE
    drops: list[Drop] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _thread: threading.Thread | None = None

    def __post_init__(self):
        self._payloads = [hs_file(self.seed, i, i / self.rate)
                          for i in range(self.n_files)]
        self.t0 = 0.0
        self.done = threading.Event()

    def start(self, lead_s: float = 0.1) -> None:
        self.t0 = time.monotonic() + lead_s
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        try:
            for i, data in enumerate(self._payloads):
                due = self.t0 + i / self.rate
                delay = due - time.monotonic()
                if delay > 0:
                    time.sleep(delay)
                path = os.path.join(self.directory, f"hs-{i:05d}.emd")
                write_atomic(path, data)
                d = Drop(path, due, time.monotonic(),
                         hashlib.sha256(data).hexdigest(), len(data))
                with self._lock:
                    self.drops.append(d)
        finally:
            self.done.set()

    def snapshot(self) -> list[Drop]:
        with self._lock:
            return list(self.drops)

    @property
    def schedule_end(self) -> float:
        return self.t0 + (self.n_files - 1) / self.rate

    def join(self, timeout: float) -> None:
        if self._thread is not None:
            self._thread.join(timeout)
            if self._thread.is_alive():
                raise RuntimeError("file generator did not stop")


# --------------------------------------------------------------------------
# corpus


@dataclass
class Corpus:
    docs: list[tuple[int, str, str]]       # doc_id, text, url
    bench: list[tuple[int, str]]           # re-keyed benchmark docs
    token_budget: int
    domain_quota: int = 2

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) for _, t, _ in self.docs)


def _sentence(rng: np.random.Generator, n: int) -> list[str]:
    out = []
    for _ in range(n):
        if rng.random() < 0.18:
            out.append(STOPWORDS[rng.integers(len(STOPWORDS))])
        else:
            out.append(VOCAB[rng.integers(len(VOCAB))])
    return out


def domain_of(url: str) -> str:
    return url.split("/")[2].removeprefix("www.")


def corpus(seed: int, n_docs: int = CORPUS_DOCS,
           n_bench: int = BENCH_SAMPLE) -> Corpus:
    """``n_docs`` documents in fixed proportions, so that every seed
    gives about the same amount of work: 82% plain docs with lengths
    spread evenly over 20-120 words, 6% exact copies and 6%
    one-word-edit near copies of plain docs, 3% punctuation soup
    (fails the quality gate) and 3% single-word repetition (fails the
    repetition gate). The seed picks the words, the copied docs, the
    order, the doc-id permutation and the benchmark-docs sample. About
    three docs share each domain."""
    rng = _rng(seed, 3)
    n_copy = n_near = round(0.06 * n_docs)
    n_soup = n_rep = round(0.03 * n_docs)
    n_plain = n_docs - n_copy - n_near - n_soup - n_rep
    lengths = np.linspace(20, 120, n_plain).round().astype(int)
    plain = [" ".join(_sentence(rng, int(n)))
             for n in rng.permutation(lengths)]
    texts = list(plain)
    texts += [plain[rng.integers(n_plain)] for _ in range(n_copy)]
    for _ in range(n_near):
        toks = plain[rng.integers(n_plain)].split(" ")
        j = int(rng.integers(len(toks)))
        toks[j] = (VOCAB[(VOCAB.index(toks[j]) + 1) % len(VOCAB)]
                   if toks[j] in VOCAB else "data")
        texts.append(" ".join(toks))
    texts += [" ".join("!?;" * int(rng.integers(1, 4))
                       for _ in range(int(rng.integers(3, 9))))
              for _ in range(n_soup)]
    texts += [" ".join([VOCAB[rng.integers(len(VOCAB))]]
                       * int(rng.integers(30, 80)))
              for _ in range(n_rep)]
    texts = [texts[i] for i in rng.permutation(n_docs)]
    ids = rng.permutation(n_docs)
    n_domains = max(1, n_docs // 3)
    docs = [(int(i), t,
             f"https://www.site{int(i) * 7919 % n_domains}.org/doc/{int(i)}")
            for i, t in zip(ids, texts)]
    pick = rng.choice(n_docs, size=n_bench, replace=False)
    bench = [(1_000_000 + k, texts[int(j)]) for k, j in enumerate(sorted(pick))]
    n_tokens = sum(len(t.split(" ")) for t in texts)
    return Corpus(docs, bench, token_budget=n_tokens // 5)
