"""Round-9 model-based property tests (VERDICT r8 ask #6, extended):
each subject is checked against an independent pure-Python reference
model over hypothesis-generated inputs, so the Spark plan — with all
its pushdown/CSE/generate-filter rewrites — must agree with the naive
semantics on corpora the fixed fixtures would never contain
(collision-heavy tiny alphabets, adversarial interval overlaps,
zero-length docs, URL separator pile-ups)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from picoprobedataflow_spark.functions import web as WB
from picoprobedataflow_spark.operators import dedup as DD
from picoprobedataflow_spark.operators.graph import \
    pagerank as DD_pagerank

_SETTINGS = dict(max_examples=8, deadline=None,
                 suppress_health_check=[
                     HealthCheck.function_scoped_fixture])

# Tiny word alphabet → dense shingle collisions between train/bench.
_WORD = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_TEXT = st.lists(_WORD, min_size=0, max_size=12).map(" ".join)


def _ref_decontam(tokens: list[str], bench: set[str], k: int):
    """Naive reference: mark every hit window, union the intervals,
    delete covered tokens."""
    removed: set[int] = set()
    for i in range(max(0, len(tokens) - k + 1)):
        if " ".join(tokens[i:i + k]) in bench:
            removed.update(range(i, i + k))
    kept = [t for i, t in enumerate(tokens) if i not in removed]
    return " ".join(kept), len(removed), len(tokens) - len(removed)


@settings(**_SETTINGS)
@given(train=st.lists(_TEXT, min_size=1, max_size=6),
       bench=st.lists(_TEXT, min_size=1, max_size=3))
def test_decontaminate_spans_matches_reference_model(spark, train,
                                                     bench):
    k = 3
    bench_sh = {
        " ".join(toks[i:i + k])
        for t in bench
        for toks in [t.split()]
        for i in range(max(0, len(toks) - k + 1))
    }
    tdf = spark.createDataFrame(list(enumerate(train)),
                                "doc_id long, text string")
    bdf = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(bench)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           DD.decontaminate_spans(tdf, bdf, k=k).collect()}
    assert set(got) == set(range(len(train)))
    for i, t in enumerate(train):
        cleaned, n_rm, n_kp = _ref_decontam(t.split(), bench_sh, k)
        r = got[i]
        assert (r.cleaned, r.n_removed, r.n_kept) == \
            (cleaned, n_rm, n_kp), (i, t)
        # conservation: every token is either removed or kept
        assert r.n_removed + r.n_kept == len(t.split())


@settings(**_SETTINGS)
@given(members=st.sets(st.text(alphabet="abcdef", min_size=1,
                               max_size=8), min_size=1, max_size=40),
       probes=st.sets(st.text(alphabet="abcdef", min_size=1,
                              max_size=8), min_size=1, max_size=40))
def test_bloom_no_false_negatives_property(spark, members, probes):
    """The Bloom contract that correctness rests on — NO member may
    ever test negative — under both transports, on a deliberately
    tiny (collision-heavy) filter."""
    nb = 1 << 9
    mdf = spark.createDataFrame([(m,) for m in members], "v string")
    bits = DD.bloom_bits(mdf, col="v", num_bits=nb)
    # literal transport: every member contained
    assert mdf.filter(~DD.bloom_contains(bits, "v", nb)).count() == 0
    # broadcast transport agrees probe-for-probe with the literal one
    bf = DD.bloom_filter_df(mdf, col="v", num_bits=nb)
    uni = spark.createDataFrame([(v,) for v in members | probes],
                                "v string")
    lit_keep = {r.v for r in
                uni.filter(DD.bloom_contains(bits, "v", nb)).collect()}
    bc_keep = {r.v for r in
               DD.bloom_prefilter(uni, "v", bf, nb).collect()}
    assert lit_keep == bc_keep
    assert members <= lit_keep


@settings(**_SETTINGS)
@given(lens=st.lists(st.integers(0, 700), min_size=1, max_size=25))
def test_pack_sequences_prefix_sum_model(spark, lens):
    """cum_before is exactly the running sum of earlier docs' token
    counts in doc_id order — zero-length docs occupy no space and
    shift nothing."""
    from picoprobedataflow_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(list(enumerate(lens)),
                               "doc_id long, n_tokens long")
    got = {r.doc_id: r.cum_before
           for r in pack_sequences(df, ctx_len=512).collect()}
    run = 0
    for i, n in enumerate(lens):
        assert got[i] == run, (i, lens)
        run += n


@settings(**_SETTINGS)
@given(docs=st.lists(_TEXT, min_size=2, max_size=8))
def test_jaccard_pairs_match_set_model(spark, docs):
    """jaccard_pairs == the set-algebra definition on every pair of
    docs that have >= k tokens (threshold 0 keeps all pairs with at
    least one shared shingle)."""
    k = 3
    sh = [
        {" ".join(t.split()[i:i + k])
         for i in range(max(0, len(t.split()) - k + 1))}
        for t in docs
    ]
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.jaccard for r in
           DD.jaccard_pairs(df, k=k, threshold=0.0).collect()}
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            if sh[a] and sh[b] and sh[a] & sh[b]:
                want[(a, b)] = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
    assert set(got) == set(want), (docs, got, want)
    for pair, j in want.items():
        assert abs(got[pair] - j) < 1e-9, (pair, docs)


_URL_PART = st.sampled_from(
    ["", "/", "//", "/A/b", "/x", "?id=1", "?utm_source=a",
     "&utm_medium=b", "&gclid=Z9", "&id=2", "#f", "#", "?&", "?utm_a=",
     ":443", ":8080",
     # Round 12 percent-encoding parts: valid escapes (upper/lower
     # hex), decodable marks, invalid escapes, bare/trailing '%' —
     # adjacency through st.lists composes pathologies like '%%7e'.
     # Alphanumeric-decodable escapes ('%34') are deliberately NOT
     # normalized to characters (see web._PCT_DECODE), which is what
     # keeps this idempotence property total.
     "%2f", "%2F", "%7e", "%7E", "%5f", "%2d", "%2e", "%zz", "%4",
     "%", "%25", "?q=%7e%2f", "/p%2Fq"])


@settings(**_SETTINGS)
@given(scheme=st.sampled_from(["http", "HTTPS", "FtP", ""]),
       host=st.sampled_from(["Example.COM", "a.b.co.uk", "X.Y",
                             "localhost"]),
       parts=st.lists(_URL_PART, min_size=0, max_size=5))
def test_url_normalize_idempotent(spark, scheme, host, parts):
    """Canonicalization must be a projection: applying it twice
    changes nothing — the property that guarantees URL-keyed dedup
    converges no matter how many times a pipeline re-normalizes."""
    raw = (f"{scheme}://{host}" if scheme else host) + "".join(parts)
    df = spark.createDataFrame([(raw,)], "url string")
    row = df.select(
        WB.url_normalize("url").alias("once"),
        WB.url_normalize(WB.url_normalize("url")).alias("twice"),
    ).collect()[0]
    assert row.once == row.twice, raw


def _ref_boiler(corpus: list[list[str]], span_w: int, min_df: int):
    """Naive boilerplate model: aligned windows, df = distinct docs
    containing the window text, drop windows with df >= min_df,
    stitch kept windows + tail."""
    from collections import defaultdict
    df_map: defaultdict[str, set[int]] = defaultdict(set)
    wins = []
    for did, toks in enumerate(corpus):
        ws = [" ".join(toks[i * span_w:(i + 1) * span_w])
              for i in range(len(toks) // span_w)]
        wins.append(ws)
        for w in ws:
            df_map[w].add(did)
    out = {}
    for did, toks in enumerate(corpus):
        kept = [w for w in wins[did] if len(df_map[w]) < min_df]
        tail = toks[(len(toks) // span_w) * span_w:]
        out[did] = (" ".join(kept + [" ".join(tail)]).strip()
                    if tail else " ".join(kept),
                    len(wins[did]) - len(kept), len(kept))
    return out


@settings(**_SETTINGS)
@given(docs=st.lists(_TEXT, min_size=1, max_size=8),
       min_df=st.integers(1, 3))
def test_remove_frequent_segments_matches_model(spark, docs, min_df):
    """Boilerplate removal agrees with the naive df-threshold model
    on collision-heavy corpora, including min_df=1 (everything
    windowed removed, tails survive) and empty/short docs."""
    span_w = 2
    corpus = [t.split() if t else [] for t in docs]
    want = _ref_boiler(corpus, span_w, min_df)
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    got = {r.doc_id: (r.cleaned, r.n_removed, r.n_kept)
           for r in DD.remove_frequent_segments(
               df, span_w=span_w, min_df=min_df).collect()}
    for did, toks in enumerate(corpus):
        if len(toks) < span_w:
            # sub-window doc: passes through untouched
            assert got[did] == (" ".join(toks), 0, 0)
        else:
            assert got[did] == want[did]


def _ref_chunks(toks: list[str], window: int, stride: int):
    out = []
    i = 0
    while i * stride < len(toks):
        seg = toks[i * stride:i * stride + window]
        out.append((i, i * stride, len(seg), " ".join(seg)))
        i += 1
    return out


@settings(**_SETTINGS)
@given(docs=st.lists(_TEXT, min_size=1, max_size=6),
       window=st.integers(1, 5), stride=st.integers(1, 7))
def test_chunk_documents_matches_model(spark, docs, window, stride):
    """Chunking agrees with the naive slicing model for every
    window/stride combination — including stride > window
    (subsampling gaps) and single-token or empty docs."""
    import hashlib

    from picoprobedataflow_spark.operators.packing import \
        chunk_documents

    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    got = {(r.doc_id, r.chunk_idx):
           (r.start_tok, r.n_tok, r.chunk_md5)
           for r in chunk_documents(df, window=window,
                                    stride=stride).collect()}
    n_got = 0
    for did, text in enumerate(docs):
        # the engine tokenizes '' to [''] (split semantics shared
        # with every other text family) — mirror that in the model
        toks = text.split(" ") if text else [""]
        for i, s, k, seg in _ref_chunks(toks, window, stride):
            md5 = hashlib.md5(seg.encode()).hexdigest()
            assert got[(did, i)] == (s, k, md5)
            n_got += 1
    assert len(got) == n_got


def _ref_source_overlap(corpus, span_w):
    """Naive model: distinct windows per source, pairwise
    intersection counts + overlap coefficient."""
    from collections import defaultdict
    per_src: defaultdict[str, set[str]] = defaultdict(set)
    for src, toks in corpus:
        for i in range(len(toks) // span_w):
            per_src[src].add(
                " ".join(toks[i * span_w:(i + 1) * span_w]))
    out = {}
    srcs = sorted(per_src)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            shared = len(per_src[a] & per_src[b])
            if shared:
                out[f"{a}>{b}"] = (
                    shared, len(per_src[a]), len(per_src[b]),
                    round(shared / min(len(per_src[a]),
                                       len(per_src[b])), 6))
    return out


@settings(**_SETTINGS)
@given(docs=st.lists(st.tuples(st.sampled_from(["A", "B", "C"]),
                               _TEXT),
                     min_size=1, max_size=10))
def test_source_overlap_matches_set_model(spark, docs):
    """The cross-source overlap matrix agrees with the naive
    set-intersection model on collision-heavy corpora — including
    sources whose docs are all sub-window (absent from totals) and
    pairs with zero overlap (absent from the result)."""
    corpus = [(s, t.split() if t else []) for s, t in docs]
    want = _ref_source_overlap(corpus, span_w=2)
    df = spark.createDataFrame(
        [(i, t, s) for i, (s, t) in enumerate(docs)],
        "doc_id long, text string, source string")
    got = {r.pair: (r.shared, r.total_a, r.total_b, r.overlap)
           for r in DD.source_overlap_matrix(
               df, span_w=2).collect()}
    assert got == want


def _ref_pmi_pairs(docs: list[list[str]], window: int):
    """Naive reference: every unordered within-window pair of every
    doc, counted brute-force."""
    from collections import Counter
    c: Counter = Counter()
    total = 0
    for toks in docs:
        for i in range(len(toks) - 1):
            for j in range(i + 1, min(i + window, len(toks) - 1) + 1):
                c[tuple(sorted((toks[i], toks[j])))] += 1
                total += 1
    return c, total


@settings(**_SETTINGS)
@given(docs=st.lists(st.lists(_WORD, min_size=0, max_size=10),
                     min_size=1, max_size=6),
       window=st.integers(1, 5))
def test_pmi_pair_counts_match_bruteforce(spark, docs, window):
    """pmi_cooccurrence's higher-order-array pair generation and its
    closed-form T_pairs both agree with the brute-force model on
    collision-heavy tiny-alphabet corpora, all windows 1-5."""
    import math

    from picoprobedataflow_spark.functions.text import \
        pmi_cooccurrence

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)],
        "doc_id long, text string")
    got = {(r.term_a, r.term_b): (r.n_pair, r.pmi)
           for r in pmi_cooccurrence(df, window=window,
                                     min_count=1).collect()}
    # words('') -> [''] — the established tokenizer contract: an
    # empty doc is one empty-string token, not zero tokens.
    toks = [t if t else [""] for t in docs]
    want, total = _ref_pmi_pairs(toks, window)
    assert {k: v[0] for k, v in got.items()} == dict(want)
    if want:
        uni: dict = {}
        for t in toks:
            for w in t:
                uni[w] = uni.get(w, 0) + 1
        tt = sum(uni.values())
        for (a, b), n in want.items():
            exp = math.log((n / total)
                           / ((uni[a] / tt) * (uni[b] / tt)))
            assert abs(got[(a, b)][1] - round(exp, 6)) <= 1e-9


@settings(**_SETTINGS)
@given(sigs=st.dictionaries(st.integers(0, 30),
                            st.integers(-2**63, 2**63 - 1),
                            min_size=0, max_size=12),
       cut=st.integers(0, 12),
       max_h=st.sampled_from([0, 3, 8, 64]))
def test_incremental_simhash_union_invariant(spark, sigs, cut,
                                             max_h):
    """For ANY signature set split into state/new at any point:
    pairs(state) ∪ incremental(state, new) == pairs(state ∪ new),
    disjointly — including full-range negative signatures and the
    degenerate empty sides."""
    items = sorted(sigs.items())
    state, new = items[:cut], items[cut:]
    schema = "doc_id long, simhash long"
    sdf = spark.createDataFrame(state, schema)
    ndf = spark.createDataFrame(new, schema)
    kw = dict(max_hamming=max_h, n_chunks=4, bits=64)
    base = {(r.doc_a, r.doc_b, r.hamming) for r in
            DD.simhash_near_pairs(sdf, **kw).collect()}
    inc = {(r.doc_a, r.doc_b, r.hamming) for r in
           DD.incremental_simhash_pairs(sdf, ndf, **kw).collect()}
    full = {(r.doc_a, r.doc_b, r.hamming) for r in
            DD.simhash_near_pairs(sdf.unionByName(ndf),
                                  **kw).collect()}
    assert base | inc == full
    assert base & inc == set()


@settings(**_SETTINGS)
@given(old=st.dictionaries(st.integers(0, 12),
                           st.one_of(st.none(), _TEXT),
                           max_size=8),
       new=st.dictionaries(st.integers(0, 12),
                           st.one_of(st.none(), _TEXT),
                           max_size=8))
def test_corpus_diff_matches_dict_model(spark, old, new):
    """corpus_diff vs the naive dict model over random snapshots
    with overlapping ids and NULL texts: every id classified, no id
    invented, statuses exact."""
    from picoprobedataflow_spark.operators.merge import corpus_diff

    schema = "doc_id long, text string"
    odf = spark.createDataFrame(list(old.items()), schema)
    ndf = spark.createDataFrame(list(new.items()), schema)
    got = {r.doc_id: r.status
           for r in corpus_diff(odf, ndf).collect()}
    want = {}
    for i in set(old) | set(new):
        if i not in old:
            want[i] = "added"
        elif i not in new:
            want[i] = "removed"
        elif old[i] == new[i]:
            want[i] = "unchanged"
        else:
            want[i] = "changed"
    assert got == want


def _np_pagerank(edges, n_iter, d, seeds=None):
    import numpy as np
    nodes = sorted({u for e in edges for u in e})
    idx = {n: i for i, n in enumerate(nodes)}
    N = len(nodes)
    out = {n: 0 for n in nodes}
    for s, _t in edges:
        out[s] += 1
    tele = np.zeros(N)
    if seeds is None:
        tele[:] = 1.0 / N
    else:
        eff = [s for s in seeds if s in idx]
        for s in eff:
            tele[idx[s]] = 1.0 / len(eff)
    pr = tele.copy()
    for _ in range(n_iter):
        nxt = np.zeros(N)
        m = 0.0
        for n in nodes:
            if out[n] == 0:
                m += pr[idx[n]]
        for s, t in edges:
            nxt[idx[t]] += pr[idx[s]] / out[s]
        if seeds is None:
            pr = (1 - d) / N + d * (nxt + m / N)
        else:
            pr = (1 - d) * tele + d * (nxt + m * tele)
    return {n: pr[idx[n]] for n in nodes}


@settings(**_SETTINGS)
@given(edges=st.sets(st.tuples(st.integers(0, 6),
                               st.integers(0, 6)),
                     min_size=1, max_size=14),
       n_iter=st.integers(1, 4),
       seeded=st.booleans())
def test_pagerank_matches_numpy_on_random_graphs(spark, edges,
                                                 n_iter, seeded):
    """pagerank (uniform AND TrustRank-seeded) vs the numpy model on
    arbitrary small digraphs — self-loops, dangling tangles, seed
    sets of every shape; vector always sums to 1."""
    elist = sorted(edges)
    df = spark.createDataFrame(elist, "src long, dst long")
    seeds = None
    seeds_df = None
    if seeded:
        nodes = sorted({u for e in elist for u in e})
        seeds = nodes[:max(1, len(nodes) // 2)]
        seeds_df = spark.createDataFrame([(s,) for s in seeds],
                                         "node long")
    got = {r.node: r.pr
           for r in DD_pagerank(df, n_iter=n_iter,
                                round_digits=None,
                                seeds=seeds_df).collect()}
    want = _np_pagerank(elist, n_iter, 0.85, seeds)
    assert set(got) == set(want)
    for n, v in want.items():
        assert abs(got[n] - v) < 1e-9, n
    assert abs(sum(got.values()) - 1.0) < 1e-9


def _np_hits(edges, n_iter):
    import numpy as np
    nodes = sorted({u for e in edges for u in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, t in edges:
        A[idx[s], idx[t]] = 1.0
    h = np.full(len(nodes), 1.0 / len(nodes))
    a = h.copy()
    for _ in range(n_iter):
        a = A.T @ h
        if a.sum() > 0:
            a = a / a.sum()
        h = A @ a
        if h.sum() > 0:
            h = h / h.sum()
    return {n: (h[idx[n]], a[idx[n]]) for n in nodes}


@settings(**_SETTINGS)
@given(edges=st.sets(st.tuples(st.integers(0, 6),
                               st.integers(0, 6)),
                     min_size=1, max_size=14),
       n_iter=st.integers(1, 4))
def test_hits_matches_numpy_on_random_graphs(spark, edges, n_iter):
    """hits vs the L1-normalized numpy model on arbitrary small
    digraphs, incl. graphs where one side's mass goes to zero."""
    elist = sorted(edges)
    df = spark.createDataFrame(elist, "src long, dst long")
    from picoprobedataflow_spark.operators.graph import hits
    got = {r.node: (r.hub, r.auth)
           for r in hits(df, n_iter=n_iter,
                         round_digits=None).collect()}
    want = _np_hits(elist, n_iter)
    assert set(got) == set(want)
    for n, (wh, wa) in want.items():
        assert abs(got[n][0] - wh) < 1e-9, n
        assert abs(got[n][1] - wa) < 1e-9, n


def _ref_cms_cells(texts: list[str], w: int, d: int):
    """Independent pure-Python CMS cell model: hashlib md5 replays
    the engine's bucket convention (first 8 hex chars of
    md5(seed||tok), base-16, mod w), token split replays words()
    exactly (trim strips SPACES only; split on \\s+; an empty/blank
    string yields empty tokens — totality, both engines count
    them)."""
    import hashlib
    import re as _re

    cells: dict[tuple[int, int], int] = {}
    for t in texts:
        for tok in _re.split(r"\s+", t.strip(" ")):
            for i in range(d):
                b = int(hashlib.md5(
                    (f"s{i}" + tok).encode()).hexdigest()[:8],
                    16) % w
                cells[(i, b)] = cells.get((i, b), 0) + 1
    return cells


@settings(**_SETTINGS)
@given(texts=st.lists(_TEXT, min_size=1, max_size=8),
       w=st.sampled_from([1, 2, 7, 16]),
       d=st.sampled_from([1, 2, 3]),
       cut=st.integers(0, 8))
def test_cms_cells_match_model_monoid_and_never_under(spark, texts,
                                                      w, d, cut):
    """Three CMS invariants against an independent hashlib model on
    collision-heavy corpora: (1) the direct Spark cell build equals
    the model cell-for-cell (pins the md5-bucket convention itself,
    not just Spark-vs-DuckDB agreement); (2) the sketch is a MONOID —
    cells of the whole corpus equal the cell-wise sum of any split's
    parts (the streaming merge's algebra, on arbitrary splits, not
    just the fixture's three batches); (3) min-over-rows estimates
    never underestimate any term's true count at any geometry,
    including the w=1 total-collapse."""
    from picoprobedataflow_spark.streaming.cms_stream import _cells_of

    def cells_of(ts):
        if not ts:
            return {}
        df = spark.createDataFrame([(t,) for t in ts], "text string")
        return {(r.seed, r.bucket): r.cell
                for r in _cells_of(df, "text", w, d).collect()}

    whole = cells_of(texts)
    model = _ref_cms_cells(texts, w, d)
    assert whole == model

    cut = min(cut, len(texts))
    left, right = cells_of(texts[:cut]), cells_of(texts[cut:])
    merged: dict[tuple[int, int], int] = dict(left)
    for key2, v in right.items():
        merged[key2] = merged.get(key2, 0) + v
    assert merged == whole

    import hashlib
    import re as _re
    truth: dict[str, int] = {}
    for t in texts:
        for tok in _re.split(r"\s+", t.strip(" ")):
            truth[tok] = truth.get(tok, 0) + 1
    for tok, n in truth.items():
        est = min(
            whole.get((i, int(hashlib.md5(
                (f"s{i}" + tok).encode()).hexdigest()[:8], 16) % w),
                0)
            for i in range(d))
        assert est >= n, (tok, est, n)



def _ref_wet_parse(member: str):
    """Independent pure-Python WET parse model (re module, not Spark
    regexes): boundary split, version-line strip, first-blank-line
    header/body divider, trailing-terminator strip, case-blind field
    extraction, int64-bounded Content-Length, conversion filter."""
    import re as _re

    out = []
    for pos, value in enumerate(
            _re.split(r"\r\n\r\nWARC/1\.0\r\n", member)):
        r = _re.sub(r"\A(﻿)?WARC/1\.0\r?\n", "", value)
        m = _re.search(r"\r?\n\r?\n", r)
        if m:
            hdr, body = r[:m.start()], r[m.end():]
            body = _re.sub(r"\r\n\r\n\Z", "", body)
        else:
            hdr, body = r, None

        def h(field, _hdr=hdr):
            mm = _re.search(rf"(?mi)^{field}:[ \t]*([^\r\n]*)", _hdr)
            return mm.group(1) if mm else ""

        if h("WARC-Type") != "conversion":
            continue
        uri = h("WARC-Target-URI") or None
        raw_cl = h("Content-Length") or None
        cl = None
        if raw_cl is not None:
            try:
                cl = int(raw_cl.strip())
            except ValueError:
                cl = None
            if cl is not None and not -2**63 <= cl < 2**63:
                cl = None
        out.append((pos, uri, cl, body if body is not None else ""))
    return out


_WET_BODY = st.lists(st.sampled_from(
    ["plain text", "", "line one\r\n", "\n", "WARC/1.0",
     "\r\n\r\n", "\r\n\r\nWARC/1.0\r\n", "héllo 中文", "a b  c",
     "WARC-Type: response"]), max_size=4).map("".join)
_WET_CL = st.one_of(
    st.none(), st.integers(-10, 200).map(str), st.just("12abc"),
    st.just("99999999999999999999"), st.just(""))
_WET_REC = st.tuples(
    st.sampled_from(["conversion", "response", "warcinfo"]),
    st.one_of(st.none(),
              st.text(alphabet="abz09._/-:", min_size=0,
                      max_size=10)),
    _WET_CL, _WET_BODY, st.booleans())


@settings(**_SETTINGS)
@given(recs=st.lists(_WET_REC, min_size=1, max_size=5),
       bom=st.booleans())
# A mid-file body ending in a blank line pair plus a newline: Java's
# \Z anchor once matched before that newline and stripped the pair.
@example(recs=[("conversion", None, None, "\r\n\r\n\n", False),
               ("conversion", None, None, "", False)], bom=False)
def test_wet_parse_matches_re_model(spark, recs, bom):
    """The production WET parser vs an independent Python-re model
    on hypothesis-assembled members: bodies embedding the version
    string, the full record boundary, bare blank lines and
    multi-byte text; URI-less records; empty / malformed / overflow
    / negative Content-Length; mixed-case field names; non-
    conversion records; an optional BOM. Every extraction rule the
    wet_parse family gates must agree with plain `re` semantics,
    record for record, at any record position (phantom fragments
    from quoted dumps shift positions identically on both sides)."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.io.warc import _parse_wet

    def rec(rtype, uri, cl, body, cased):
        h = [("Warc-Type: " if cased else "WARC-Type: ") + rtype]
        if uri is not None:
            h.append(("WARC-TARGET-URI: " if cased
                      else "WARC-Target-URI: ") + uri)
        if cl is not None:
            h.append(("CONTENT-LENGTH: " if cased
                      else "Content-Length: ") + cl)
        return "WARC/1.0\r\n" + "\r\n".join(h) + "\r\n\r\n" + body

    member = "\r\n\r\n".join(rec(*r) for r in recs) + "\r\n\r\n"
    if bom:
        member = "﻿" + member

    raw = (spark.range(1)
           .select(F.posexplode(F.split(
               F.lit(member),
               r"\r\n\r\nWARC/1\.0\r\n")).alias("pos", "value")))
    got = sorted(
        (r.pos, r.target_uri, r.content_length, r.text)
        for r in _parse_wet(raw, "conversion",
                            extra_cols=("pos",)).collect())
    want = sorted(_ref_wet_parse(member))
    assert got == want


def _ref_line_clean(docs, min_df):
    """Naive line-removal model: trimmed-key df over DISTINCT docs,
    blank keys exempt, untrimmed lines survive, NULL passes
    through."""
    import re as _re

    dfreq: dict[str, int] = {}
    split: dict[int, list] = {}
    for i, t in docs:
        if t is None:
            continue
        lines = _re.split(r"\r?\n", t)
        split[i] = lines
        for k in {ln.strip(" \t") for ln in lines
                  if ln.strip(" \t") != ""}:
            dfreq[k] = dfreq.get(k, 0) + 1
    out = {}
    for i, t in docs:
        if t is None:
            out[i] = (None, 0, 0)
            continue
        kept, removed = [], 0
        for ln in split[i]:
            k = ln.strip(" \t")
            if k != "" and dfreq.get(k, 0) >= min_df:
                removed += 1
            else:
                kept.append(ln)
        out[i] = ("\n".join(kept), removed,
                  len(split[i]) - removed)
    return out


_LINE = st.sampled_from(
    ["", " ", "\t", "nav bar", "nav bar ", "  nav bar",
     "\tnav bar\t", "body", "x y", "héllo"])
_LINE_DOC = st.one_of(
    st.none(),
    st.tuples(st.lists(_LINE, min_size=1, max_size=6),
              st.sampled_from(["\n", "\r\n"]))
    .map(lambda t: t[1].join(t[0])))


@settings(**_SETTINGS)
@given(texts=st.lists(_LINE_DOC, min_size=1, max_size=6),
       min_df=st.integers(1, 4))
def test_remove_frequent_lines_matches_model(spark, texts, min_df):
    """Line-grain boilerplate removal vs the naive dict model on
    hypothesis docs: CRLF and LF endings, whitespace-padded
    spellings of one key (trim collapses them for df but the
    UNTRIMMED line is what survives), blank/tab-only lines exempt,
    within-doc repeats counting once toward df, NULL texts passing
    through, min_df=1 removing every non-blank line."""
    docs = list(enumerate(texts))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.cleaned, r.n_removed, r.n_kept)
           for r in DD.remove_frequent_lines(
               sdf, min_df=min_df).collect()}
    want = _ref_line_clean(docs, min_df)
    assert got == want


# --------------------------------------------- round-17 additions


def _py_h8(s: str) -> int:
    """portable_hash64's convention: first 8 hex chars of md5,
    base-16 (the CMS model's hash, unsalted)."""
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _ref_winnow(text: str, k: int, w: int) -> set[tuple[int, int]]:
    """Naive MOSS winnowing: k-gram md5 hashes, every w-window's
    minimum with LEFTMOST tie-break, 1-based gram positions,
    deduped. Tokenization replays words() (trim strips SPACES only;
    split on \\s+)."""
    import re as _re
    toks = _re.split(r"\s+", text.strip(" "))
    grams = [" ".join(toks[i:i + k])
             for i in range(len(toks) - k + 1)]
    hs = [_py_h8(g) for g in grams]
    out: set[tuple[int, int]] = set()
    for s in range(len(hs) - w + 1):
        win = hs[s:s + w]
        mn = min(win)
        out.add((s + win.index(mn) + 1, mn))
    return out


@settings(**_SETTINGS)
@given(docs=st.lists(_TEXT, min_size=1, max_size=6),
       k=st.sampled_from([1, 2, 3]),
       w=st.sampled_from([1, 2, 4]))
def test_winnow_fingerprints_match_python_model(spark, docs, k, w):
    """Winnowing vs an independent pure-Python MOSS reference on
    collision-heavy corpora (VERDICT r16 #7): selected (pos, fp)
    sets agree exactly per document — window minimum, leftmost
    tie-break (dense on a 5-word alphabet), 1-based positions, the
    short-doc empty-selection guard — and the 2/(w+1) density bound
    direction holds (never MORE selections than windows)."""
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    got: dict[int, set] = {}
    for r in DD.winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    for i, t in enumerate(docs):
        want = _ref_winnow(t, k, w)
        assert got.get(i, set()) == want, (i, t)
        n_windows = max(
            0, len(_re_split_len(t)) - (k - 1) - (w - 1))
        assert len(want) <= max(n_windows, 0)


def _re_split_len(text: str) -> list[str]:
    import re as _re
    return _re.split(r"\s+", text.strip(" "))


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.integers(0, 9),     # qb (dups)
                               st.integers(0, 40)),    # n_tokens
                     min_size=1, max_size=30),
       budget=st.integers(0, 400),
       span=st.sampled_from([1, 3, 8, 64]))
def test_token_budget_sharded_equals_naive_property(spark, rows,
                                                    budget, span):
    """select_token_budget's three-level sharded cumsum vs the
    single-window naive form on hypothesis corpora (VERDICT r16 #7)
    — duplicate-heavy quality buckets, zero-token docs, budget 0,
    shard spans down to 1 — value-identical rows including
    cum_before."""
    from picoprobedataflow_spark.operators.packing import (
        select_token_budget, select_token_budget_single_window)

    data = [(i, qb, t) for i, (qb, t) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "doc_id long, qb long, n_tokens long")
    a = sorted(map(tuple, select_token_budget(
        df, budget, shard_span=span).collect()))
    b = sorted(map(tuple, select_token_budget_single_window(
        df, budget).collect()))
    assert a == b


def _ref_adc(codes_row, codebooks, q, sub):
    """Left-associative ascending-dim ADC fold — the _adc_expr
    convention replayed in pure Python floats."""
    total = None
    for i, book in enumerate(codebooks):
        qs = q[i * sub:(i + 1) * sub]
        cent = dict(book)[codes_row[i]]
        d = 0.0
        for a, b in zip(qs, cent):
            d = d + (a - b) * (a - b)
        total = d if total is None else total + d
    return total


@settings(max_examples=6, deadline=None,
          suppress_health_check=[
              HealthCheck.function_scoped_fixture])
@given(vals=st.lists(st.lists(st.integers(-4, 4),
                              min_size=8, max_size=8),
                     min_size=3, max_size=10),
       q=st.lists(st.integers(-4, 4), min_size=8, max_size=8))
def test_pq_adc_matches_python_model(spark, vals, q):
    """PQ encode + ADC search vs a pure-Python model (VERDICT r16
    #7): taking the RETURNED codebooks as ground truth, (a) every
    stored code is the (distance, cell)-tie-broken argmin of its
    subspace slice under the same left-associative fold, and (b)
    every ADC distance equals the Python lookup-sum at 6 dp — so
    the literal LUT expression, the element_at indexing and the
    code assignment can never drift from the published PQ
    semantics."""
    from picoprobedataflow_spark.operators.similarity import (
        pq_adc_search, pq_encode)

    m, dim = 2, 8
    sub = dim // m
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vals)],
        "vec_id long, embedding array<double>")
    codes, books = pq_encode(emb, m=m, n_codes=3, n_iter=1, dim=dim)
    got = {r._id: (r.c0, r.c1) for r in codes.collect()}
    qd = [float(x) for x in q]
    for i, v in enumerate(vals):
        for s_i in range(m):
            sl = [float(x) for x in v[s_i * sub:(s_i + 1) * sub]]
            best = min(
                ((_fold_sq(sl, cent), cell)
                 for cell, cent in books[s_i]))
            assert got[i][s_i] == best[1], (i, s_i)
    res = pq_adc_search(emb, qd, k=len(vals), m=m, n_codes=3,
                        dim=dim, prebuilt=(codes, books))
    rows = res.collect()
    for r in rows:
        want = _ref_adc((r.c0, r.c1), books, qd, sub)
        assert r.adc == round(want, 6), (r, want)
    # ranking: ascending (adc, vec_id)
    keys = [(r.adc, r.vec_id) for r in rows]
    assert keys == sorted(keys)


def _fold_sq(a, b):
    d = 0.0
    for x, y in zip(a, b):
        d = d + (x - y) * (x - y)
    return d


def _ref_ks(ref_vals, cur_vals):
    """Naive exact two-sample KS over value multisets (None when a
    side is empty — the operator's no-data contract). Returns the
    UNROUNDED sup; callers compare against the operator's 6-dp
    value within the rounding half-width."""
    from collections import Counter
    r, c = Counter(ref_vals), Counter(cur_vals)
    nr, nc = sum(r.values()), sum(c.values())
    if nr == 0 or nc == 0:
        return None
    cr = cc = 0
    best = 0.0
    for v in sorted(set(r) | set(c)):
        cr += r.get(v, 0)
        cc += c.get(v, 0)
        best = max(best, abs(cr / nr - cc / nc))
    return best


@settings(**_SETTINGS)
@given(ref=st.lists(st.integers(-5, 5), min_size=0, max_size=30),
       cur=st.lists(st.integers(-5, 5), min_size=0, max_size=30))
def test_ks_report_matches_python_model(spark, ref, cur):
    """Exact two-sample KS vs a naive Counter/ECDF model on
    hypothesis multisets (duplicate-heavy, either side possibly
    empty) — the sharded deployed path must land within the 6-dp
    rounding half-width of the naive sup, and counts must match
    exactly."""
    from picoprobedataflow_spark.operators.drift import ks_report

    rdf = spark.createDataFrame([(float(v),) for v in ref],
                                "v double")
    cdf = spark.createDataFrame([(float(v),) for v in cur],
                                "v double")
    row = ks_report(rdf, cdf, "v").head()
    assert (row.n_ref, row.n_cur) == (len(ref), len(cur))
    want = _ref_ks(ref, cur)
    if want is None:
        assert row.ks is None
    else:
        assert abs(row.ks - want) <= 5.001e-7, (row.ks, want)


@settings(**_SETTINGS)
@given(pairs=st.lists(st.tuples(st.sampled_from("abcd"),
                                st.sampled_from("abcd")),
                      min_size=0, max_size=40))
def test_chi2_report_matches_python_model(spark, pairs):
    """Two-sample chi-square vs a naive contingency model on
    hypothesis category multisets: per-category counts exact,
    expected counts and chi2 terms within the 6-dp half-width, and
    the both-sides-nonempty NULL contract."""
    from picoprobedataflow_spark.operators.drift import chi2_report

    ref = [a for a, _ in pairs]
    cur = [b for _, b in pairs if b != "d"]       # asymmetric sides
    rdf = spark.createDataFrame([(c,) for c in ref], "cat string")
    cdf = spark.createDataFrame([(c,) for c in cur], "cat string")
    rows = chi2_report(rdf, cdf, "cat").collect()
    from collections import Counter
    r, c = Counter(ref), Counter(cur)
    cats = sorted(set(r) | set(c))
    assert [x.category for x in rows] == cats
    tr, tc = len(ref), len(cur)
    for x in rows:
        nr, nc = r.get(x.category, 0), c.get(x.category, 0)
        assert (x.n_ref, x.n_cur) == (nr, nc)
        if tr == 0 or tc == 0:
            assert x.e_cur is None and x.chi2_term is None
            continue
        col = nr + nc
        e_ref = tr * col / (tr + tc)
        e_cur = tc * col / (tr + tc)
        term = ((nr - e_ref) ** 2 / e_ref
                + (nc - e_cur) ** 2 / e_cur)
        assert abs(x.e_cur - e_cur) <= 5.001e-7
        assert abs(x.chi2_term - term) <= 1.001e-6


@settings(**_SETTINGS)
@given(ref=st.lists(st.integers(0, 40), min_size=2, max_size=40),
       cur=st.lists(st.integers(0, 40), min_size=0, max_size=40),
       n_buckets=st.sampled_from([2, 4, 8]))
def test_psi_report_matches_python_model(spark, ref, cur,
                                         n_buckets):
    """PSI vs a naive numpy-quantile/bucket model on hypothesis
    multisets: bucket populations exact (linear-interpolation
    quantile edges, strictly-below bucket test), proportions and
    psi terms within the 6-dp half-width, always exactly n_buckets
    rows."""
    import numpy as np

    from picoprobedataflow_spark.operators.drift import (
        PSI_EPS, psi_report)

    rdf = spark.createDataFrame([(float(v),) for v in ref],
                                "v double")
    cdf = spark.createDataFrame([(float(v),) for v in cur],
                                "v double")
    rows = psi_report(rdf, cdf, "v", n_buckets=n_buckets).collect()
    assert [x.bucket for x in rows] == list(range(n_buckets))
    qs = [i / n_buckets for i in range(1, n_buckets)]
    edges = np.quantile(np.array(ref, dtype=float), qs,
                        method="linear")

    def bucket_counts(vals):
        out = [0] * n_buckets
        for v in vals:
            out[sum(1 for e in edges if v > e)] += 1
        return out

    br, bc = bucket_counts(ref), bucket_counts(cur)
    tr, tc = max(len(ref), 1), max(len(cur), 1)
    import math as _math
    for x in rows:
        assert (x.n_ref, x.n_cur) == (br[x.bucket], bc[x.bucket])
        p_ref = max(br[x.bucket] / tr, PSI_EPS)
        p_cur = max(bc[x.bucket] / tc, PSI_EPS)
        term = (p_cur - p_ref) * _math.log(p_cur / p_ref)
        assert abs(x.p_ref - p_ref) <= 5.001e-7
        assert abs(x.p_cur - p_cur) <= 5.001e-7
        assert abs(x.psi_term - term) <= 1.001e-6


@settings(**_SETTINGS)
@given(batch=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 3)),
                      min_size=0, max_size=20),
       state=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 3)),
                      min_size=0, max_size=30))
def test_batch_anti_state_matches_set_model(spark, batch, state):
    """The broadcast batch-∖-state helper vs the naive set model on
    hypothesis multisets: every batch row whose key tuple is absent
    from the state survives WITH multiplicity (anti is a filter,
    never a dedup), empty batch and empty (typed) state included."""
    from picoprobedataflow_spark.streaming.loop import \
        batch_anti_state

    bdf = spark.createDataFrame(batch, "k long, j long")
    sdf = spark.createDataFrame(state, "k long, j long")
    got = sorted(map(tuple,
                     batch_anti_state(bdf, sdf,
                                      ["k", "j"]).collect()))
    skeys = set(state)
    want = sorted(t for t in batch if t not in skeys)
    assert got == want


@settings(**_SETTINGS)
@given(edges=st.lists(st.tuples(st.integers(0, 15),
                                st.integers(0, 15)),
                      min_size=0, max_size=40))
def test_connected_components_matches_union_find(spark, edges):
    """Min-id label propagation vs a pure-Python union-find on
    hypothesis graphs (self-loops, duplicate edges, forward/backward
    orientation, singletons-by-self-loop): identical component
    membership AND the min-id canonical label per component."""
    from picoprobedataflow_spark.operators.dedup import \
        connected_components

    df = spark.createDataFrame(edges or [(0, 0)],
                               "doc_a long, doc_b long")
    if not edges:
        df = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {r.node: r.comp
           for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict[int, list[int]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {n: min(members)
            for members in comps.values() for n in members}
    assert got == want, edges


@settings(**_SETTINGS)
@given(rows=st.lists(st.tuples(st.integers(-50, 50),
                               st.integers(-50, 50)),
                     min_size=1, max_size=30),
       bits=st.sampled_from([2, 4, 8]))
def test_zorder_key_matches_python_interleave(spark, rows, bits):
    """Morton key vs a pure-Python bucketize+interleave model on
    hypothesis integer grids (negative values, degenerate all-equal
    columns where span 0 falls back to 1): bit-identical keys."""
    from picoprobedataflow_spark.io.layout import zorder_key

    df = spark.createDataFrame(rows, "x long, y long")
    xs, ys = [r[0] for r in rows], [r[1] for r in rows]
    bounds = {"x": (min(xs), max(xs)), "y": (min(ys), max(ys))}
    got = [r.z for r in df.select(
        zorder_key(("x", "y"), bits_per_dim=bits,
                   bounds=bounds).alias("z")).collect()]

    def bucket(v, lo, hi):
        n = 1 << bits
        span = float(hi - lo) or 1.0
        import math as _m
        b = min(int(_m.floor((float(v) - lo) / span * n)), n - 1)
        return max(b, 0)

    want = []
    for x, y in rows:
        bx = bucket(x, *bounds["x"])
        by = bucket(y, *bounds["y"])
        k = 0
        for b in range(bits):
            k += ((bx >> b) & 1) << (b * 2 + 0)
            k += ((by >> b) & 1) << (b * 2 + 1)
        want.append(k)
    assert got == want, (rows, bits)


@settings(**_SETTINGS)
@given(vec=st.lists(st.integers(-1000, 1000).map(lambda v: v / 8),
                    min_size=1, max_size=12),
       scale=st.sampled_from([0.25, 1.0, 2.0, 12.7]))
def test_int8_quantization_matches_decimal_model(spark, vec, scale):
    """quantize_int8 vs a Decimal HALF_UP model (Spark's round(x, 0)
    converts through the shortest decimal repr and rounds half AWAY
    from zero — exactly Decimal(repr(v)).quantize(ROUND_HALF_UP)),
    including the ±127 clamp and exact half-way values (.5 grid from
    the /8 inputs times the .25 scale); dequantize is exactly
    value / scale_inv."""
    from decimal import ROUND_HALF_UP, Decimal

    from picoprobedataflow_spark.functions.vectors import (
        dequantize_int8, quantize_int8)

    df = spark.createDataFrame([([float(v) for v in vec],)],
                               "embedding array<double>")
    row = df.select(
        quantize_int8(F.col("embedding"), scale).alias("q")).head()
    want = []
    for v in vec:
        r = int(Decimal(repr(v * scale)).quantize(
            Decimal(1), rounding=ROUND_HALF_UP))
        want.append(max(-127, min(127, r)))
    assert list(row.q) == want, (vec, scale)
    deq = df.select(dequantize_int8(
        quantize_int8(F.col("embedding"), scale),
        scale).alias("d")).head().d
    assert list(deq) == [w / scale for w in want]
