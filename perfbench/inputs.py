"""Seeded workload inputs and their goldens, cached as parquet.

Each workload is generated from ``--seed`` alone.  The program under test
reads only ``input/`` (the transcripts schema); ``golden/`` holds the
expected per-turn output, taken from the generators themselves
(``PDFFixture.golden_*``, the HTML page generator below, the text turns),
never from the extraction code.

The cache key is (workload, seed, hash of the generator sources), so an
edit to a generator forces regeneration instead of reusing a stale corpus.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from pdfparse_spark.fixtures import pdf_gen
from pdfparse_spark.fixtures.pdf_gen import build_pdf_fixtures, make_big_pdf

# pdf_unique: 20-turn conversations in the bench_corpus mix
PDF_CONVS = 120
# chat_hotkey: 40-turn conversations plus one hot conversation that holds
# HOT_SHARE of all turns
CHAT_CONVS = 225
CHAT_TURNS = 40
HOT_SHARE = 0.10
INPUT_FILES = 8
# conversations replayed by the resume probe (a prefix, hot one excluded)
PROBE_CONVS = 24

_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

INPUT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)
SPAN_TYPE = pa.list_(
    pa.struct(
        [
            pa.field("page", pa.int32(), nullable=False),
            pa.field("start", pa.int32(), nullable=False),
            pa.field("end", pa.int32(), nullable=False),
        ]
    )
)
# the expected output row of every turn: OUTPUT_SCHEMA of the extraction stage
GOLDEN_SCHEMA = pa.schema(
    [INPUT_SCHEMA.field(c) for c in ("conv_id", "turn_idx", "role", "tool", "ts")]
    + [
        pa.field("content_type", pa.string(), nullable=False),
        pa.field("extracted_text", pa.string()),
        pa.field("spans", SPAN_TYPE),
        pa.field("parse_status", pa.string(), nullable=False),
        pa.field("n_chars", pa.int32(), nullable=False),
    ]
)

# --- seeded prose -------------------------------------------------------------

_ONSETS = "b c d f g h k l m n p r s t v w z br ch dr gr pl st tr".split()
_VOWELS = "a e i o u ai ea io ou".split()


class Prose:
    """Seeded words and sentences over a seeded 4096-word vocabulary."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.vocab = [
            "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(rng.randint(1, 3)))
            for _ in range(4096)
        ]

    def word(self) -> str:
        """2..12 lowercase letters."""
        return self.rng.choice(self.vocab)

    def sentence(self, lo: int, hi: int) -> str:
        """lo..hi words, capitalised, ending in '.'; >= 3*lo - 1 characters."""
        words = self.rng.choices(self.vocab, k=self.rng.randint(lo, hi))
        return " ".join(words).capitalize() + "."


def html_page(p: Prose) -> tuple[str, str]:
    """(html, golden_text) for one seeded page.

    The golden follows the documented extraction policy block by block:
    script/style/head/comments and boilerplate containers vanish, a block is
    kept iff it has >= 25 characters and link density <= 0.5 (<pre> always),
    entities decode, whitespace collapses, kept blocks join with '\\n'.
    Every kept block below has >= 29 characters and every dropped one fails
    the policy by a wide margin, so the golden never depends on a boundary.
    """
    kept: list[str] = []
    html = [
        "<!DOCTYPE html><html><head><title>%s</title>" % p.word(),
        "<style>p{margin:0}</style></head><body>",
        "<header><h1>%s</h1><a href='/'>home</a></header>" % p.sentence(3, 5),
        "<nav><ul>%s</ul></nav>"
        % "".join("<li><a href='/%d'>%s</a></li>" % (i, p.word()) for i in range(4)),
        "<article>",
    ]
    title = p.sentence(10, 14)
    html.append("<h2>%s</h2>" % title)
    kept.append(title)
    for _ in range(p.rng.randint(2, 4)):
        s, b, a = p.sentence(12, 24), p.word(), p.word()
        html.append("<p>%s <b>%s</b> and <a href='/x'>%s</a>.</p>" % (s, b, a))
        kept.append("%s %s and %s." % (s, b, a))
    # link-only list item: long enough, but link density 1.0 -> dropped
    html.append("<ul><li><a href='/r'>%s</a></li></ul>" % p.sentence(10, 12))
    s, w1, w2, w3 = p.sentence(10, 16), p.word(), p.word(), p.word()
    html.append("<p>%s &amp; %s &mdash; &quot;%s&quot;&nbsp;%s.</p>" % (s, w1, w2, w3))
    kept.append('%s & %s — "%s" %s.' % (s, w1, w2, w3))
    # one word (<= 12 chars) is under the 25-character floor -> dropped
    html.append("<p>%s</p>" % p.word())
    html.append("<script>var %s = '%s';</script><!-- %s -->" % (
        p.word(), p.word(), p.sentence(4, 6)))
    s = p.sentence(10, 20)
    html.append("<div>%s</div>" % s)
    kept.append(s)
    code = "%s = %d\n    return %s" % (p.word(), p.rng.randint(0, 999), p.word())
    html.append("<pre>%s\n</pre>" % code)
    kept.append(code)
    for _ in range(p.rng.randint(1, 3)):
        s = p.sentence(12, 24)
        html.append("<p>%s</p>" % s)
        kept.append(s)
    html.append("</article><footer>%s <a href='/legal'>legal</a></footer></body></html>"
                % p.sentence(3, 5))
    return "".join(html), "\n".join(kept)


def text_turn(p: Prose) -> str:
    return " ".join(p.sentence(6, 18) for _ in range(p.rng.randint(1, 3)))


# --- workloads -----------------------------------------------------------------


class _Rows:
    """Accumulates the input rows and, for each, its golden output row."""

    def __init__(self, prose: Prose):
        self.prose = prose
        self.inp = {f.name: [] for f in INPUT_SCHEMA}
        self.gold = {f.name: [] for f in GOLDEN_SCHEMA}

    def add(self, conv: str, ti: int, text: str, tool: str, golden: tuple) -> None:
        ctype, gtext, gspans, gstatus = golden
        row = {
            "conv_id": conv,
            "turn_idx": ti,
            "role": ("user", "assistant", "tool")[ti % 3],
            "text": text,
            "tool": tool,
            "ts": _EPOCH + dt.timedelta(seconds=37 * len(self.inp["conv_id"])),
            "content_type": ctype,
            "extracted_text": gtext,
            "spans": [{"page": p, "start": s, "end": e} for p, s, e in gspans],
            "parse_status": gstatus,
            "n_chars": len(gtext),
        }
        for cols in (self.inp, self.gold):
            for k, v in cols.items():
                v.append(row[k])

    def add_text(self, conv: str, ti: int) -> None:
        t = text_turn(self.prose)
        self.add(conv, ti, t, "", ("text", t, [(0, 0, len(t))], "ok"))

    def add_html(self, conv: str, ti: int) -> None:
        h, g = html_page(self.prose)
        self.add(conv, ti, h, "fetch_html", ("html", g, [(0, 0, len(g))], "ok"))

    def add_pdf(self, conv: str, ti: int, fx) -> None:
        payload = "pdfb64:" + base64.b64encode(fx.data).decode()
        self.add(conv, ti, payload, "fetch_pdf",
                 ("pdf", fx.golden_text, fx.golden_spans, fx.golden_status))


def _pdf_unique(seed: int) -> tuple[_Rows, list[str]]:
    """Per conversation: 2 twenty-page FlateDecode PDFs with distinct
    seed-derived document ids, 4 small fixture PDFs, 6 HTML, 8 text turns."""
    b = _Rows(Prose(random.Random("pdf_unique/%d" % seed)))
    small = build_pdf_fixtures()
    convs = []
    for ci in range(PDF_CONVS):
        conv = "pu%d_%05d" % (seed, ci)
        convs.append(conv)
        for k in range(2):
            b.add_pdf(conv, k, make_big_pdf(20, 40, seed=seed * 1_000_000 + 2 * ci + k))
        for k in range(4):
            b.add_pdf(conv, 2 + k, small[(ci * 4 + k) % len(small)])
        for ti in range(6, 12):
            b.add_html(conv, ti)
        for ti in range(12, 20):
            b.add_text(conv, ti)
    return b, convs[:PROBE_CONVS]


def _chat_hotkey(seed: int) -> tuple[_Rows, list[str]]:
    """40-turn text/HTML conversations (3 in 10 turns HTML) plus one hot
    conversation holding HOT_SHARE of all turns."""
    b = _Rows(Prose(random.Random("chat_hotkey/%d" % seed)))
    hot_turns = round(CHAT_CONVS * CHAT_TURNS * HOT_SHARE / (1 - HOT_SHARE))
    hot_at = b.prose.rng.randrange(CHAT_CONVS)
    convs = []
    for ci in range(CHAT_CONVS + 1):
        if ci == hot_at:
            conv, n = "hot%d" % seed, hot_turns
        else:
            conv, n = "ch%d_%05d" % (seed, ci), CHAT_TURNS
            convs.append(conv)
        for ti in range(n):
            if ti % 10 in (2, 5, 8):
                b.add_html(conv, ti)
            else:
                b.add_text(conv, ti)
    return b, convs[:PROBE_CONVS]


WORKLOADS = {"pdf_unique": _pdf_unique, "chat_hotkey": _chat_hotkey}


def _source_hash() -> str:
    h = hashlib.sha256()
    for path in (os.path.abspath(__file__), pdf_gen.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _props(b: _Rows, probe_convs: list[str]) -> dict:
    texts = b.inp["text"]
    n = len(texts)
    ctypes = b.gold["content_type"]
    return {
        "input.turns": n,
        "input.mb": sum(len(t.encode()) for t in texts) / 1e6,
        "input.pdf_share": ctypes.count("pdf") / n,
        "input.html_share": ctypes.count("html") / n,
        "input.repeat_share": 1 - len(set(texts)) / n,
        "probe_convs": probe_convs,
    }


def ensure_inputs(workload: str, seed: int, cache_dir: str) -> dict:
    """Build (once) and describe the workload's input and golden parquet.

    Returns ``{"input": dir, "golden": dir, "props": {...}}``."""
    path = os.path.join(cache_dir, "%s_seed%d_%s" % (workload, seed, _source_hash()))
    meta = os.path.join(path, "props.json")
    if not os.path.exists(meta):
        b, probe_convs = WORKLOADS[workload](seed)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "input"))
        os.makedirs(os.path.join(tmp, "golden"))
        table = pa.table(b.inp, schema=INPUT_SCHEMA)
        step = -(-table.num_rows // INPUT_FILES)
        for i in range(INPUT_FILES):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(tmp, "input", "part-%05d.parquet" % i))
        pq.write_table(pa.table(b.gold, schema=GOLDEN_SCHEMA),
                       os.path.join(tmp, "golden", "part-00000.parquet"))
        with open(os.path.join(tmp, "props.json"), "w") as f:
            json.dump(_props(b, probe_convs), f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(meta) as f:
        props = json.load(f)
    return {
        "input": os.path.join(path, "input"),
        "golden": os.path.join(path, "golden"),
        "props": props,
    }
