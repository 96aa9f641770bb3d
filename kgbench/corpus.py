"""Seeded corpus generator for the KG-construction benchmark.

Everything here is a pure function of the seed. The program under test
only ever sees the parquet docs table written by ``write_docs`` in the
``(doc_id, spans)`` shape of ``pipeline.fixtures.DOCS_SCHEMA``.

The *shape* of a corpus is fixed and only its content follows the seed,
so that runs with different seeds do the same amount of work:

- doc sizes come from a fixed heavy-tailed (log-normal) quantile grid,
  shuffled by the seed;
- a fixed number of mega-docs sit above the 200k-char heavy-routing
  threshold of ``pipeline.extract.route_by_cost``;
- a fixed number of docs hold malformed code (the kernel's error path);
- method bodies lean on hot JDK symbols (String, List, Map, ...), which
  skews the linking join, and call classes declared in other docs, which
  feeds the corpus symbol table.

The traffic shape is an unverified assumption. Only the mean doc size
(about 1.6 KB of code) is anchored on a measurement of the engine's
typical input. The log-normal body follows the reported shape of source
file sizes (Herraiz, German and Hassan, "On the Distribution of Source
Code File Sizes", ICSOFT 2011), but its spread (``_SIZE_SIGMA``), the
statement-shape mix of ``_method`` and the malformed and mega-doc counts
come from no measurement.
"""

from __future__ import annotations

import math
import random
import statistics
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

HEAVY_THRESHOLD = 200_000      # pipeline.extract.route_by_cost default
N_BUCKETS = 32                 # the n_buckets run_pipeline is called with
HOT_TYPES = ("String", "Object", "Integer", "List", "Map", "Exception")
_SIZE_MEDIAN = 1200            # chars of code in the median doc
_SIZE_SIGMA = 0.8              # assumed spread: p99 ~ 7.7x the median
_MEGA_CHARS = 205_000
_FILLER = ("graph span doc media code table commit review note build"
           " patch module").split()


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int                # ordinary docs
    n_mega: int                # docs above HEAVY_THRESHOLD
    n_malformed: int           # docs whose code does not parse


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as Spark's ``xxhash64`` computes it for one string column
    (seed 42), as a signed 64-bit value."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def bucket_of(doc_id: str) -> int:
    """``materialize.with_bucket``: pmod(xxhash64(doc_id), N_BUCKETS)."""
    return xxhash64(doc_id.encode()) % N_BUCKETS


@dataclass
class Doc:
    doc_id: str
    class_name: str
    package: str
    methods: List[str]         # method source texts, edited in place
    malformed: bool = False
    mega: bool = False

    def code(self) -> str:
        body = "\n".join(self.methods)
        src = (f"package {self.package};\n\n"
               "import java.util.ArrayList;\n"
               "import java.util.HashMap;\n"
               "import java.util.List;\n"
               "import java.util.Map;\n"
               "import org.acme.util.Text;\n\n"
               f"public class {self.class_name} {{\n"
               f"    private final Map<String, Integer> registry ="
               f" new HashMap<>();\n"
               f"{body}\n}}\n")
        if self.malformed:
            # cut mid-method and leave a stray token: the parser fails
            src = src[: len(src) * 2 // 3] + "\n    int @@ broken (\n"
        return src


@dataclass
class Corpus:
    seed: int
    docs: List[Doc] = field(default_factory=list)

    def rows(self) -> List[Tuple[str, list]]:
        """(doc_id, spans) rows; spans interleave text/media around the
        code span, in shuffled order (consumers sort by offset)."""
        out = []
        for i, d in enumerate(self.docs):
            rng = random.Random(f"{self.seed}/spans/{i}")
            out.append((d.doc_id, _interleave(rng, d.code())))
        return out

    def sources(self) -> Dict[str, str]:
        return {d.doc_id: d.code() for d in self.docs}

    def code_bytes(self) -> int:
        return sum(len(d.code().encode()) for d in self.docs)


def _interleave(rng: random.Random, code: str) -> list:
    spans = []
    offset = rng.randrange(0, 5)
    for _ in range(rng.randint(1, 2)):
        if rng.random() < 0.5:
            spans.append(("text", " ".join(rng.choices(_FILLER, k=6)), "",
                          offset))
        else:
            spans.append(("media", "", f"media://img/{rng.randrange(10**6)}",
                          offset))
        offset += rng.randrange(1, 4)
    spans.append(("code", code, "", offset))
    offset += rng.randrange(1, 4)
    spans.append(("text", "end of file", "", offset))
    rng.shuffle(spans)
    return spans


def _size_grid(n: int) -> List[int]:
    """Fixed log-normal quantiles: identical size histogram for every
    seed."""
    nd = statistics.NormalDist(math.log(_SIZE_MEDIAN), _SIZE_SIGMA)
    return [int(math.exp(nd.inv_cdf((i + 0.5) / n))) for i in range(n)]


def _method(rng: random.Random, idx: int, peers: List[Tuple[str, str]]
            ) -> str:
    """One method; every body declares ``total`` and returns it, so an
    edit can always add a statement before the return."""
    lines = [f"    public int op{idx}(String s, List<String> items, int a) {{",
             f"        int total = a + {rng.randrange(1, 100)};"]
    for _ in range(rng.randint(2, 5)):
        shape = rng.choice(("hot", "map", "loop", "branch", "xfile", "try",
                            "switch", "while", "alias"))
        v = f"v{rng.randrange(1000)}"
        if shape == "hot":
            lines += [f"        String {v} = s.trim().replace(\"a\", \"b\");",
                      f"        Integer n{v} = Integer.valueOf({v}.length());",
                      f"        Object o{v} = n{v};",
                      f"        total = total + n{v}.intValue();"]
        elif shape == "map":
            lines += [f"        List<String> {v} = new ArrayList<>();",
                      f"        {v}.add(s);",
                      f"        registry.put(s, {v}.size());",
                      f"        total = total + registry.size();"]
        elif shape == "loop":
            lines += ["        for (String item : items) {",
                      "            if (item.isEmpty()) {",
                      "                continue;",
                      "            }",
                      "            total = total + item.length();",
                      "        }"]
        elif shape == "branch":
            lines += [f"        if (total > {rng.randrange(50)}) {{",
                      "            total = total - a;",
                      "        } else {",
                      "            total++;",
                      "        }"]
        elif shape == "xfile" and peers:
            cls, pkg = rng.choice(peers)
            lines += [f"        total = total + {cls}.helper();"]
        elif shape == "alias":
            # same simple names as String's members on another type: the
            # alias set canonicalize merges
            lines += [f"        Text t{v} = new Text(s);",
                      f"        total = total + t{v}.length() + t{v}.trim().length();"]
        elif shape == "try":
            lines += ["        try {",
                      "            total = Integer.parseInt(s);",
                      "        } catch (NumberFormatException e) {",
                      "            throw new IllegalStateException(e);",
                      "        }"]
        elif shape == "switch":
            lines += ["        switch (a) {",
                      "        case 1:",
                      "            total = total + 1;",
                      "            break;",
                      "        default:",
                      "            total = 0;",
                      "        }"]
        else:
            lines += [f"        while (total > {rng.randrange(5)}) {{",
                      "            total = total / 2;",
                      "        }"]
    lines += ["        return total;", "    }"]
    return "\n".join(lines)


def _doc_id(pkg: str, cls: str) -> str:
    return f"src/{pkg.replace('.', '/')}/{cls}.java"


def generate(seed: int, spec: CorpusSpec) -> Corpus:
    rng = random.Random(f"{seed}/corpus")
    n_total = spec.n_docs + spec.n_mega
    sizes = _size_grid(spec.n_docs)
    rng.shuffle(sizes)
    sizes += [_MEGA_CHARS + rng.randrange(10_000) for _ in range(spec.n_mega)]
    order = list(range(n_total))
    rng.shuffle(order)          # mega-docs land at seeded positions
    malformed = set(rng.sample(range(spec.n_docs), spec.n_malformed))
    names = [None] * n_total
    for pos, i in enumerate(order):
        # fixed bucket occupancy: the doc at position pos lands in bucket
        # pos % N_BUCKETS, so every seed fills the buckets alike
        pkg = f"org.gen{seed % 97}.mod{i % 7}"
        for k in range(10_000):
            cls = f"Gen{seed % 1000}C{i:04d}v{k}"
            if bucket_of(_doc_id(pkg, cls)) == pos % N_BUCKETS:
                break
        names[i] = (cls, pkg)
    corpus = Corpus(seed)
    for pos in range(n_total):
        i = order[pos]
        cls, pkg = names[i]
        drng = random.Random(f"{seed}/doc/{i}")
        peers = [names[j] for j in drng.sample(range(n_total), 3) if j != i]
        methods = ["    public static int helper() {\n"
                   f"        return {drng.randrange(100)};\n    }}"]
        size = len(methods[0]) + 220
        while size < sizes[i] or len(methods) < 2:
            m = _method(drng, len(methods), peers)
            methods.append(m)
            size += len(m) + 1
        corpus.docs.append(Doc(
            doc_id=_doc_id(pkg, cls), class_name=cls,
            package=pkg, methods=methods, malformed=i in malformed,
            mega=i >= spec.n_docs))
    return corpus


def edit_commit(corpus: Corpus, rng: random.Random, doc_ids: List[str]
                ) -> List[str]:
    """One small commit: add a statement to one method body of each named
    doc (class declarations and signatures stay as they were)."""
    by_id = {d.doc_id: d for d in corpus.docs}
    for doc_id in doc_ids:
        d = by_id[doc_id]
        k = rng.randrange(1, len(d.methods))     # never the helper
        d.methods[k] = d.methods[k].replace(
            "        return total;",
            f"        total = total * {rng.randrange(2, 9)} +"
            f" {rng.randrange(100)};\n        return total;", 1)
    return list(doc_ids)


def editable_docs(corpus: Corpus) -> List[str]:
    return [d.doc_id for d in corpus.docs if not (d.malformed or d.mega)]


def write_docs(corpus: Corpus, path: str) -> None:
    """The docs table the program reads: one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    span_t = pa.struct([pa.field("kind", pa.string(), False),
                        pa.field("text", pa.string(), False),
                        pa.field("media_ref", pa.string(), False),
                        pa.field("offset", pa.int32(), False)])
    schema = pa.schema([
        pa.field("doc_id", pa.string(), False),
        pa.field("spans", pa.list_(pa.field("element", span_t, False)),
                 False)])
    rows = corpus.rows()
    table = pa.table({
        "doc_id": [r[0] for r in rows],
        "spans": [[{"kind": k, "text": t, "media_ref": m, "offset": o}
                   for k, t, m, o in r[1]] for r in rows],
    }, schema=schema)
    pq.write_table(table, path)


def describe(corpus: Corpus) -> dict:
    """Input properties the build workload depends on."""
    sizes = [len(d.code()) for d in corpus.docs]
    edges = [0, 1_000, 2_000, 4_000, 8_000, 16_000, HEAVY_THRESHOLD]
    hist = {}
    for lo, hi in zip(edges, edges[1:] + [None]):
        label = f"{lo}-{hi}" if hi else f">{lo}"
        hist[label] = sum(1 for s in sizes if s > lo and (hi is None
                                                           or s <= hi))
    return {"docs": len(sizes), "code_bytes": corpus.code_bytes(),
            "size_hist_chars": hist,
            "mega_docs": sum(1 for s in sizes if s > HEAVY_THRESHOLD),
            "malformed_share": round(
                sum(d.malformed for d in corpus.docs) / len(sizes), 4)}
