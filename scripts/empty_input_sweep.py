"""Full-registry sweep on ZERO-ROW tables: the 100 TB edge nobody tests.

At cluster scale, empty inputs are routine, not exceptional: a filter
that drains a partition, a date-bounded scan that matches nothing, a
tenant with no rows yet, a replay window past the high-water mark. An
operator that crashes on zero rows (``collect()[0]`` on an empty model
aggregate, an Arrow kernel assuming ≥1 batch, a ratio dividing by a
zero count) is a real defect class that the sf-scaled sweeps can never
reach because every sf dir has data.

This sweep materializes a schema-faithful zero-row copy of all ten
tables (schemas read from sf0.001 via pyarrow, no data dependency) and
runs EVERY registered query against it — and, where the query is
oracled, runs the DuckDB oracle on the same empty views and compares
with the suite's driver-faithful comparator (``oracle_sweep.sweep``,
the one oracle loop). One line per problem. The boundary is one
positional mode argument — ``rows=N`` (default ``rows=0``),
``clones=K``, ``nulls``, ``text``, ``reverse``, ``unicode``, ``dupes``
or ``wide``:

    python scripts/empty_input_sweep.py                       # 0 rows
    python scripts/empty_input_sweep.py rows=1
    python scripts/empty_input_sweep.py clones=100

`rows=N` keeps the first N rows of each table instead of zero — N=1
is the other classic boundary (single-row windows, lag with no
predecessor, stddev of one sample, percentile interpolation with
nothing to interpolate, LSH with one document). `clones=K` keeps the
first row and repeats it K times with UNIQUE primary keys (base + i —
every other column constant): the constant-content table. One hot join/group key
everywhere (maximum skew), every document an exact duplicate of every
other (LSH bands collapse into ONE bucket, driving the bucket-cap
fallback), rank/row_number ties on every ordering key. Keys must stay
unique because the table contract guarantees it — cloning keys
verbatim makes the oracles' per-key GROUP BYs collapse rows that
per-row kernels keep, a data artifact, not an engine divergence.
Both engines read the SAME files, so every remaining divergence is an
engine semantics difference, never a data artifact.

`nulls` runs at FULL sf0.001 but NULLs every
3rd row of the optional attribute columns (measure/JSON/label columns
— never keys, timestamps, or the document text the kernel contract
declares NOT NULL): the generator writes zero NULLs anywhere, so
without this mode every NULL path outside the contract audits is
oracle-unexercised. Classic divergence classes to expect: ORDER BY
with NULLs (Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST),
`concat` (Spark propagates NULL, DuckDB treats it as ''), NaN-vs-NULL
coercions.

`reverse` runs at FULL sf0.001 with every
table's physical row order REVERSED. Every query must be a
deterministic function of the row SET: any kernel or plan taking a
"first" row per group without a total order produces a different
answer on the reversed file than DuckDB does, surfacing hidden
arrival-order dependence — the nondeterminism that shows up at
cluster scale as flaky results across runs.

`text` runs at FULL sf0.001 but rewrites the
document text by position: every 4th doc becomes the EMPTY string,
the next a single non-ASCII char, the next whitespace-only — the
tokenizer/shingle/quality-ratio edges (zero-length division, zero
shingles, unicode length vs byte length) that generator prose can
never produce.

`unicode` runs at FULL sf0.001 with adversarial
unicode woven into the document text (and a rotating subset of `lang`
values): NFC and NFD spellings of the same word on ADJACENT rows,
combining-mark stacks, astral-plane (surrogate-pair) emoji and CJK,
bidi controls and zero-width joiners. This is the cross-engine
collation/length/normalization trap the text-edges mode only grazed
with one BMP char: code-point vs byte vs UTF-16-unit lengths, regex
tokenization over non-Latin scripts, group-key equality of
canonically-equal-but-byte-different strings (both engines must treat
NFC ≠ NFD — byte semantics — for the hash gate to hold).

`dupes` runs at FULL sf0.001 with every 5th
events row APPENDED AGAIN VERBATIM (same event_id — an at-least-once
replay / CDC double-fire, the 100 TB ingestion norm). events is the
one table whose contract does not guarantee key uniqueness
(`tests/test_table_contracts.py`); dimension/document tables keep
their unique-key contracts and copy through untouched. Every query
must be a deterministic function of the (multi)set both engines read:
dedup operators must collapse the replays, count-based ones must count
them, and neither may crash on the tie.

`wide` runs at FULL sf0.001 with adversarial
RECORD WIDTH — the ninth mode, the one axis the first eight
(cardinality, skew, nulls, text edges, order, unicode, dupes) never
stressed: every 25th document's text is replaced by deterministic
multi-hundred-KiB prose (widths cycle 1 MiB / 256 KiB / 64 KiB; a
distinct word stride per doc so the giants are NOT near-dups of each
other — the all-duplicate shape is the clones mode's job), `n_chars`
kept consistent, and every 100th events row carries a ~256 KiB JSON
``props`` payload. A single record much wider than the Arrow batch
target is what a 100 TB web corpus actually contains (concatenated
crawls, minified bundles, base64 blobs): per-batch kernels (shingling,
LM scoring, frame windows, codecs) must neither crash nor mis-batch
when one row dominates its batch, and byte-indexed windows (FRAME
slicing) must stay byte-true at widths far past their test prose.

Expected legitimate divergence classes (report-and-adjudicate, not
auto-fail): none known at time of writing — ungrouped aggregates
return one all-NULL/0 row in BOTH engines, grouped ones return zero
rows in both.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_spark_realtime_spark.sources.tables import TABLE_NAMES as TABLES

SCHEMA_SF_DIR = os.environ.get("SPARK_GRAFT_SCHEMA_SF", "/root/testdata/sf0.001")

#: optional attribute columns NULLed (every 3rd row) under the nulls
#: boundary. Deliberately excluded: primary/foreign keys (contract),
#: timestamps (watermark/sentinel machinery defines ingest-time
#: validation as the NULL gate), documents.text and event_type (the
#: kernel / routing contracts declare them NOT NULL — the contract
#: audit operator is where those violations surface).
_NULLABLE = {
    "events": ["value", "props"],
    "documents": ["lang", "source"],
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "lineitem": ["l_discount"],
    "embeddings": ["embedding"],
}

#: per-table primary-key column re-sequenced under cloning (base + i);
#: every other column repeats verbatim. lineitem's key is the
#: (l_orderkey, l_linenumber) pair — the line number takes the
#: sequence, the order FK stays the constant hot key.
_CLONE_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_linenumber",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def materialize_empty_tables(dest: str, rows: int = 0, clones: int = 1) -> None:
    """Write an N-row parquet per table with the exact sf schema
    (N=0: schema-only empty table; N>0: the first N rows, each
    repeated ``clones`` times with re-sequenced primary keys — the
    constant-content boundary)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in TABLES:
        src = os.path.join(SCHEMA_SF_DIR, f"{t}.parquet")
        if rows > 0:
            table = pq.read_table(src).slice(0, rows)
            if clones > 1:
                # the key re-sequencing below rewrites EVERY row's key
                # (originals included) to base..base+N*K; only for N=1
                # does the first clone keep the original key that other
                # tables' FK columns still reference (round-13 advisor)
                if rows != 1:
                    raise ValueError(
                        "clones > 1 requires rows == 1: "
                        "re-sequencing would rewrite the original rows' "
                        "keys and break cross-table FK references"
                    )
                table = pa.concat_tables([table] * clones)
                key = _CLONE_KEYS[t]
                i = table.schema.get_field_index(key)
                base = table.column(key)[0].as_py()
                seq = pa.array(
                    range(base, base + len(table)), table.schema.field(key).type
                )
                table = table.set_column(i, table.schema.field(key), seq)
        else:
            table = pq.read_schema(src).empty_table()
        pq.write_table(table, os.path.join(dest, f"{t}.parquet"))


def _full_copy(dest: str, rewrites: dict) -> None:
    """Full sf copy of every table: the ones named in ``rewrites`` go
    through their ``table -> table`` function, the rest copy through
    untouched."""
    import pyarrow.parquet as pq

    for t in TABLES:
        table = pq.read_table(os.path.join(SCHEMA_SF_DIR, f"{t}.parquet"))
        if t in rewrites:
            table = rewrites[t](table)
        pq.write_table(table, os.path.join(dest, f"{t}.parquet"))


def _map_column(table, col: str, fn):
    """``table`` with column ``col`` rewritten as ``fn(row, value)``."""
    import pyarrow as pa

    field = table.schema.field(col)
    vals = [fn(r, v) for r, v in enumerate(table.column(col).to_pylist())]
    i = table.schema.get_field_index(col)
    return table.set_column(i, field, pa.array(vals, field.type))


def _null_every_third(table, cols):
    for col in cols:
        table = _map_column(table, col, lambda r, v: None if r % 3 == 0 else v)
    return table


def materialize_nulled_tables(dest: str) -> None:
    """Full sf copy with every 3rd row of the optional attribute
    columns NULLed — deterministic, both engines read the result."""
    _full_copy(dest, {
        t: lambda table, cols=cols: _null_every_third(table, cols)
        for t, cols in _NULLABLE.items()
    })


def materialize_text_edge_tables(dest: str) -> None:
    """Full sf copy with document text rewritten by position: empty
    string / single non-ASCII char / whitespace-only / unchanged, in
    rotation. Other tables copy through untouched."""
    edges = ["", "é", "   "]  # empty, one 2-byte char, whitespace
    _full_copy(dest, {"documents": lambda table: _map_column(
        table, "text", lambda r, v: edges[r % 4] if r % 4 < 3 else v)})


#: adversarial unicode payloads, cycled by row position. Pairs of
#: canonically-equal-but-byte-different spellings sit on ADJACENT rows
#: (NFC then NFD) so group-key equality, dedup shingles, and length
#: functions all see the trap; the rest cover combining-mark stacks,
#: astral-plane (surrogate-pair) code points, CJK (no-whitespace
#: tokenization), and bidi/zero-width controls inside words.
_UNICODE_EDGES = [
    "café résumé naïve",            # NFC
    "café résumé naïve",        # NFD of the same
    "á̂̃̄ combining stack end",    # mark pile-up
    "\U0001f680 \U0001d54a\U0001d552\U0001d55b astral", # emoji + math bold
    "日本語の文書 cjk text",    # CJK, no spaces
    "zero​width‍joined⁠words",           # ZWSP/ZWJ/WJ
    "bidi ‮REVERSED‬ tail",                   # RTL override
]


def _unicode_docs(table):
    table = _map_column(table, "text", lambda r, v: (
        (v or "") + " " + _UNICODE_EDGES[(r // 3) % len(_UNICODE_EDGES)]
        if r % 3 == 0 else v))
    return _map_column(table, "lang", lambda r, v: (
        v + "\u200b" if v is not None and r % 11 == 0 else v))


def materialize_unicode_tables(dest: str) -> None:
    """Full sf copy with adversarial unicode woven into documents.text
    (every 3rd row gets an edge payload APPENDED to its prose, keeping
    real tokens present) and, on every 11th row, a zero-width-suffixed
    `lang` value (same visible text, different bytes — a group key that
    must NOT merge with its clean twin under byte semantics)."""
    _full_copy(dest, {"documents": _unicode_docs})


def materialize_duped_tables(dest: str) -> None:
    """Full sf copy with every 5th events row appended AGAIN verbatim
    (same event_id): the at-least-once replay / CDC double-fire shape.
    All other tables keep their unique-key contracts and copy through
    untouched."""
    import pyarrow as pa

    _full_copy(dest, {"events": lambda table: pa.concat_tables(
        [table, table.take(list(range(0, len(table), 5)))])})


#: wide-record widths, cycled over the widened docs — one true 1 MiB
#: monster per three, so the sweep stresses the extreme without the
#: DuckDB oracle side (which re-tokenizes every widened doc in SQL)
#: turning a 5-minute sweep into an hour
_WIDE_WIDTHS = (1 << 20, 256 << 10, 64 << 10)
_WIDE_DOC_EVERY = 25
_WIDE_EVENT_EVERY = 100
_WIDE_PROPS_BYTES = 256 << 10


def _wide_text(pos: int, width: int) -> str:
    """Deterministic prose of ~``width`` bytes: an arithmetic word-index
    progression with a per-doc stride (9973 prime, stride coprime), so
    each giant has ~9973 distinct tokens and a bigram/shingle set
    DISJOINT-ish from every other giant — genuinely distinct wide
    records, not rotations of one cycle that MinHash would collapse."""
    stride = (pos % 9971) + 2  # 2..9972, always coprime with prime 9973
    words = []
    n = i = 0
    while n < width:
        w = f"w{(7 + i * stride) % 9973}"
        words.append(w)
        n += len(w) + 1
        i += 1
    return " ".join(words)


def _wide_docs(table):
    table = _map_column(table, "text", lambda r, v: (
        _wide_text(r, _WIDE_WIDTHS[(r // _WIDE_DOC_EVERY) % 3])
        if r % _WIDE_DOC_EVERY == 0 else v))
    texts = table.column("text").to_pylist()
    return _map_column(table, "n_chars", lambda r, v: len(texts[r]))


def _wide_events(table):
    pad = "x" * _WIDE_PROPS_BYTES
    return _map_column(table, "props", lambda r, v: (
        f'{{"pad":"{pad}","wide":{r}}}' if r % _WIDE_EVENT_EVERY == 0 else v))


def materialize_wide_tables(dest: str) -> None:
    """Full sf copy with adversarial record width (see module doc):
    multi-hundred-KiB document texts (n_chars kept consistent) and
    ~256 KiB events.props JSON payloads."""
    _full_copy(dest, {"documents": _wide_docs, "events": _wide_events})


def materialize_reversed_tables(dest: str) -> None:
    """Full sf copy with the physical row order reversed — a query
    whose answer changes is arrival-order-dependent, i.e. broken."""
    _full_copy(dest, {
        t: lambda table: table.take(list(range(len(table) - 1, -1, -1)))
        for t in TABLES
    })


#: the modes that rewrite a FULL schema-sf copy (see module doc)
_FULL_SF_MODES = {
    "nulls": materialize_nulled_tables,
    "text": materialize_text_edge_tables,
    "reverse": materialize_reversed_tables,
    "unicode": materialize_unicode_tables,
    "dupes": materialize_duped_tables,
    "wide": materialize_wide_tables,
}


def materializer(mode: str):
    """The table writer ``dest -> None`` for one boundary mode; exits
    with a usage error on an unknown mode (before Spark starts)."""
    key, eq, n = mode.partition("=")
    if eq and n.isdigit() and key == "rows":
        return lambda dest: materialize_empty_tables(dest, rows=int(n))
    if eq and n.isdigit() and key == "clones":
        return lambda dest: materialize_empty_tables(dest, rows=1, clones=int(n))
    if not eq and key in _FULL_SF_MODES:
        return _FULL_SF_MODES[key]
    raise SystemExit(
        f"unknown boundary mode {mode!r}: expected rows=N, clones=K, "
        + ", ".join(_FULL_SF_MODES)
    )


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    if len(args) > 1:
        raise SystemExit(f"usage: empty_input_sweep.py [MODE], got {args}")
    mode = args[0] if args else "rows=0"
    write = materializer(mode)

    from oracle_sweep import sweep
    from bigdata_spark_realtime_spark.session import get_spark

    boundary_dir = tempfile.mkdtemp(prefix="bsr_boundary_sf_")
    try:
        write(boundary_dir)
        spark = get_spark(app_name="bsr-empty-sweep")
        spark.sparkContext.setLogLevel("ERROR")
        problems = sweep(spark, boundary_dir, label=f"boundary {mode}")
        spark.stop()
    finally:
        shutil.rmtree(boundary_dir, ignore_errors=True)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
