"""Seeded input generator: HTML documents spread over a few folders.

Every document is a random word sequence (44-577 characters of body text,
like the sf0.1 ``documents.parquet`` corpus the suite tests against) wrapped
in the boilerplate a crawled page carries — ``<script>``, ``<style>``,
``<nav>`` and ``<footer>`` — so the HTML parser has real work to strip. About
one document in five is Hangul, so language filters and the language
detector see both classes. The same seed always yields the same bytes.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path

FOLDERS = ("news", "manuals", "faq")

EN_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer index cluster shard replica commit snapshot partition "
    "schema field record cache disk memory network latency budget plan stage "
    "task worker driver executor metric trace span report"
).split()
KO_WORDS = (
    "데이터 검색 문서 벡터 색인 질문 답변 모델 학습 저장 분할 병합 "
    "정렬 필터 결과 속도 메모리 작업 단계 보고"
).split()


@dataclass(frozen=True)
class Doc:
    folder: str
    name: str
    title: str
    text: str


def _body(rng: random.Random, serial: str, korean: bool) -> str:
    words = KO_WORDS if korean else EN_WORDS
    target = rng.randint(44, 577)
    out = [serial]
    n = len(serial)
    while n < target:
        w = rng.choice(words)
        out.append(w)
        n += len(w) + 1
    return " ".join(out)


def make_docs(seed: int, n: int, tag: str = "d") -> list[Doc]:
    """``n`` documents; ``tag`` keeps batches of one run apart, and the
    per-document serial word makes every text unique, so the chunker's
    first-wins dedup never drops a generated document."""
    rng = random.Random(f"{seed}:{tag}")
    docs = []
    for i in range(n):
        korean = rng.random() < 0.2
        serial = f"ref{tag}{i:05d}"
        docs.append(
            Doc(
                folder=FOLDERS[i % len(FOLDERS)],
                name=f"{tag}_{i:05d}.html",
                title=f"{' '.join(rng.sample(EN_WORDS, 3))} {i}",
                text=_body(rng, serial, korean),
            )
        )
    return docs


def to_html(doc: Doc) -> str:
    words = doc.text.split(" ")
    paras, i = [], 0
    while i < len(words):
        step = 12 + (i * 7) % 17
        paras.append(" ".join(words[i:i + step]))
        i += step
    body = "\n".join(f"<p>{p}</p>" for p in paras)
    return (
        "<!DOCTYPE html>\n<html><head>"
        f"<title>{doc.title}</title>"
        "<script>window.dataLayer=window.dataLayer||[];"
        "function gtag(){dataLayer.push(arguments);}</script>"
        "<style>body{font-family:sans-serif} nav a{margin:0 4px}</style>"
        "</head><body>"
        "<nav><a href='/'>Home</a> <a href='/docs'>Docs</a> "
        "<a href='/faq'>FAQ</a></nav>"
        f"<h1>{doc.title}</h1>\n{body}\n"
        "<footer>Copyright example.org - all rights reserved</footer>"
        "</body></html>\n"
    )


def write_tree(root: Path, docs: list[Doc]) -> int:
    """Write one ``<root>/<folder>/<name>`` file per document; returns the
    HTML bytes written."""
    total = 0
    for d in docs:
        p = root / d.folder / d.name
        p.parent.mkdir(parents=True, exist_ok=True)
        data = to_html(d).encode("utf-8")
        p.write_bytes(data)
        total += len(data)
    return total
