"""Deterministic generator for the interleaved docs table (input_hint shape).

Schema (BASELINE.json input_hint, FIXTURES.md §1):
    doc_id  string
    spans   array<struct<kind:string, text:string, media_ref:string, offset:int>>

A document's compilation unit = concatenation of its kind='code' span texts
in offset order (mirrors the reference reading one .java file per unit,
ast/PEASTVisitor.java:64-80). Code spans are newline-terminated so span
boundaries never split a line.

Corpora:
- the 11 reference fixture programs (golden docs), read verbatim at run
  time from ``REFERENCE_TESTCASE_DIR``, the reference checkout's
  ``testcase/`` directory; the sources are not in this repository, and
  where they are absent the golden docs are left out with a warning;
- seeded synthetic Java covering every StatementInfo category
  (pe/StatementInfo.java:166-187) for scale;
- a pathological mega-doc bucket (one doc, many methods) to exercise
  skew handling.
"""

from __future__ import annotations

import glob
import os
import random
import warnings
from typing import Dict, Iterator, List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ArrayType, IntegerType, StringType, StructField,
                               StructType)

REFERENCE_TESTCASE_DIR = "/root/reference/testcase"

DOCS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("offset", IntegerType(), False),
    ]), False), False),
])

_FIXTURE_DOC_IDS = {
    "MyTest.java": "fx-mytest",
    "SqlInjection.java": "fx-sqlinjection",
    "PortfolioPublishServlet.java": "fx-portfolio",
    "ActiveMQMapMessage.java": "fx-activemq",
    "AmqpAdvisoryTest.java": "fx-amqp",
    "EdgeOperation.java": "fx-edgeop",
    "FilenameGuardFilterNew.java": "fx-guard-new",
    "FilenameGuardFilterOld.java": "fx-guard-old",
    "BaseDataMarshaller.java": "fx-marshaller",
    "BaseDataStreamMarshallerNew.java": "fx-marshaller-new",
    "BaseDataStreamMarshallerOld.java": "fx-marshaller-old",
}

_FILLER_WORDS = ("data graph span doc media code table shuffle join"
                 " partition skew broadcast lineage commit").split()


def _interleave(rng: random.Random, code_text: str) -> List[Tuple[str, str, str, int]]:
    """Wrap one code payload with 1-3 filler text/media spans, offsets
    strictly increasing but deliberately non-contiguous."""
    spans: List[Tuple[str, str, str, int]] = []
    offset = rng.randrange(0, 7)
    for _ in range(rng.randint(1, 3)):
        if rng.random() < 0.5:
            words = rng.choices(_FILLER_WORDS, k=rng.randint(3, 12))
            spans.append(("text", " ".join(words), "", offset))
        else:
            spans.append(("media", "", f"media://img/{rng.randrange(10**6)}", offset))
        offset += rng.randrange(1, 5)
    spans.append(("code", code_text, "", offset))
    offset += rng.randrange(1, 5)
    if rng.random() < 0.5:
        spans.append(("text", "trailing commentary", "", offset))
    # shuffle row order; consumers must sort by offset
    rng.shuffle(spans)
    return spans


def reference_fixture_rows(seed: int = 42) -> List[Tuple[str, list]]:
    """One golden doc per ``.java`` file in ``REFERENCE_TESTCASE_DIR``.
    Warns, naming the directory, when none of the 11 fixture sources is
    there: the result is then missing every golden doc."""
    if not any(os.path.isfile(os.path.join(REFERENCE_TESTCASE_DIR, name))
               for name in _FIXTURE_DOC_IDS):
        warnings.warn(
            f"none of the {len(_FIXTURE_DOC_IDS)} reference fixture sources "
            f"is in {REFERENCE_TESTCASE_DIR}; the docs table gets no golden "
            "fx-* docs", stacklevel=2)
    rng = random.Random(seed)
    rows = []
    for path in sorted(glob.glob(os.path.join(REFERENCE_TESTCASE_DIR, "*.java"))):
        name = os.path.basename(path)
        doc_id = _FIXTURE_DOC_IDS.get(name, "fx-" + name.removesuffix(".java").lower())
        with open(path, "r", encoding="utf-8") as f:
            code = f.read()
        rows.append((doc_id, _interleave(rng, code)))
    return rows


# ---------------------------------------------------------- synthetic Java

def _synth_method(rng: random.Random, idx: int) -> str:
    """One synthetic method exercising a seeded mix of statement shapes."""
    name = f"m{idx}"
    lines = [f"    public int {name}(int a, int b, String s) {{"]
    lines.append(f"        int total = a + b * {rng.randrange(1, 100)};")
    shapes = rng.sample(
        ["if", "ifelse", "while", "dofor", "foreach", "switch", "try",
         "synchronized", "nested", "calls", "breakcont", "ternary"],
        k=rng.randint(2, 5))
    for shape in shapes:
        v = f"v{rng.randrange(1000)}"
        if shape == "if":
            lines += [f"        if (total > {rng.randrange(50)}) {{",
                      f"            total = total - a;",
                      "        }"]
        elif shape == "ifelse":
            lines += [f"        if (s.length() > {rng.randrange(9)}) {{",
                      "            total++;",
                      "        } else {",
                      "            total--;",
                      "        }"]
        elif shape == "while":
            lines += [f"        while (total > {rng.randrange(5)}) {{",
                      "            total = total / 2;",
                      "        }"]
        elif shape == "dofor":
            lines += [f"        for (int i = 0; i < b; i++) {{",
                      f"            int {v} = i * total;",
                      f"            total = total + {v};",
                      "        }"]
        elif shape == "foreach":
            lines += ["        for (String part : s.split(\",\")) {",
                      "            total = total + part.length();",
                      "        }"]
        elif shape == "switch":
            lines += ["        switch (a) {",
                      "        case 1:",
                      "            total = total + 1;",
                      "            break;",
                      "        case 2:",
                      "            total = total + 2;",
                      "        default:",
                      "            total = 0;",
                      "        }"]
        elif shape == "try":
            lines += ["        try {",
                      "            total = Integer.parseInt(s);",
                      "        } catch (NumberFormatException e) {",
                      "            total = -1;",
                      "        }"]
        elif shape == "synchronized":
            lines += ["        synchronized (this) {",
                      "            total = total + 1;",
                      "        }"]
        elif shape == "nested":
            lines += [f"        if (a > b) {{",
                      f"            while (a > 0) {{",
                      f"                a = a - 1;",
                      "            }",
                      "        }"]
        elif shape == "calls":
            lines += [f"        String {v} = s.replace(\"x\", \"y\").trim();",
                      f"        logger.debug(\"value \" + {v});",
                      f"        registry.put({v}, total);"]
        elif shape == "breakcont":
            lines += ["        while (true) {",
                      f"            if (total < {rng.randrange(9)}) {{",
                      "                break;",
                      "            }",
                      "            total = total - 3;",
                      "        }"]
        elif shape == "ternary":
            lines += ["        total = total > 0 ? total : -total;"]
    lines.append("        return total;")
    lines.append("    }")
    return "\n".join(lines)


def synth_java_class(rng: random.Random, class_idx: int, n_methods: int) -> str:
    body = "\n".join(_synth_method(rng, i) for i in range(n_methods))
    return f"class Synth{class_idx} {{\n{body}\n}}\n"


def synthetic_rows(n_docs: int, seed: int = 42,
                   mega_every: int = 0, mega_methods: int = 400
                   ) -> Iterator[Tuple[str, list]]:
    """Seeded synthetic corpus; every ``mega_every``-th doc is a mega-doc
    (hundreds of methods) to exercise skew routing."""
    for i in range(n_docs):
        rng = random.Random(seed * 1_000_003 + i)
        if mega_every and i % mega_every == mega_every - 1:
            n_methods = mega_methods
        else:
            n_methods = rng.randint(1, 6)
        code = synth_java_class(rng, i, n_methods)
        yield (f"doc-{i:08d}", _interleave(rng, code))


def docs_df(spark: SparkSession, n_docs: int = 100, seed: int = 42,
            include_fixtures: bool = True, mega_every: int = 0,
            mega_methods: int = 400, partitions: int | None = None) -> DataFrame:
    rows: List[Tuple[str, list]] = []
    if include_fixtures:
        rows.extend(reference_fixture_rows(seed))
    rows.extend(synthetic_rows(n_docs, seed, mega_every, mega_methods))
    df = spark.createDataFrame(rows, DOCS_SCHEMA)
    if partitions:
        df = df.repartition(partitions, "doc_id")
    return df


def assemble_source(spans: List[Dict]) -> str:
    """Compilation unit = code spans concatenated in offset order."""
    code = [s for s in spans if s["kind"] == "code"]
    code.sort(key=lambda s: s["offset"])
    return "".join(s["text"] for s in code)
