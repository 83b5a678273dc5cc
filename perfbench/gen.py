"""Seeded input generation. Pure Python + NumPy: the engine under test
only ever sees the tables written here, never the seed.

Texts are random word sequences over a synthetic vocabulary, so two
independently generated texts share (practically) no word 3-shingles:
every near-duplicate in the streaming workload is one this module
planted on purpose."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

VOCAB_SIZE = 5000
PROMPT_WORDS = (20, 80)  # inclusive bounds of a batch prompt's length
DOC_WORDS = (40, 60)  # ingest documents: long enough that one edited
# word keeps Jaccard(3-shingles) >= 35/41 > 0.8 wherever it lands
ZIPF_S = 1.1  # multiplicity skew of the deduplicated workload
ARRIVAL_ID_BASE = 10_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per purpose, so changing one workload's
    # shape never shifts another's inputs
    return np.random.default_rng([seed, sum(map(ord, stream))])


def vocabulary(rng: np.random.Generator, size: int = VOCAB_SIZE) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < size:
        n = int(rng.integers(3, 9))
        words.setdefault("".join(rng.choice(letters, n)), None)
    return np.array(list(words), dtype=object)


def random_texts(
    rng: np.random.Generator,
    vocab: np.ndarray,
    n: int,
    words: tuple[int, int],
) -> list[str]:
    lens = rng.integers(words[0], words[1] + 1, n)
    picks = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    offs = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(picks[offs[i]:offs[i + 1]]) for i in range(n)]


def batch_table(seed: int, rows: int, distinct: int) -> pa.Table:
    """``rows`` prompts over exactly ``distinct`` distinct texts, keyed
    by unique, unordered ``doc_id``s. With ``distinct < rows`` each text
    appears once plus Zipf(``ZIPF_S``)-drawn extra copies, so the most
    frequent prompt carries a large share of the rows."""
    if not 0 < distinct <= rows:
        raise ValueError(f"need 0 < distinct <= rows, got {distinct}/{rows}")
    rng = _rng(seed, "batch")
    texts = random_texts(rng, vocabulary(rng), distinct, PROMPT_WORDS)
    if len(set(texts)) != distinct:
        raise ValueError("generated prompts collided; change the seed")
    picks = np.arange(distinct)
    if distinct < rows:
        p = 1.0 / np.arange(1, distinct + 1) ** ZIPF_S
        extra = rng.choice(distinct, rows - distinct, p=p / p.sum())
        picks = np.concatenate([picks, extra])
        rng.shuffle(picks)
    doc_id = rng.permutation(rows).astype(np.int64) * 7919 + 13
    return pa.table(
        {"doc_id": doc_id, "text": [texts[i] for i in picks]}
    )


def _edit_one_word(
    rng: np.random.Generator, vocab: np.ndarray, text: str
) -> str:
    ws = text.split(" ")
    pos = int(rng.integers(0, len(ws)))
    new = ws[pos]
    while new == ws[pos]:
        new = vocab[int(rng.integers(0, len(vocab)))]
    ws[pos] = new
    return " ".join(ws)


def ingest_inputs(
    seed: int,
    corpus_docs: int,
    files_per_wave: tuple[int, int],
    docs_per_file: int,
) -> dict:
    """Corpus table, two waves of arrival files and the planted pairs.

    Each arrival file holds one-word-edit copies of distinct corpus
    documents (half the file) and novel documents; every wave-2 file
    also carries edits of some wave-1 novel documents, so the drain
    must find new-new pairs across epochs through the sunk band rows.
    ``planted`` lists each copy as ``(id_a, id_b)`` with ``id_a < id_b``."""
    rng = _rng(seed, "ingest")
    vocab = vocabulary(rng)
    corpus_text = random_texts(rng, vocab, corpus_docs, DOC_WORDS)
    corpus_id = rng.permutation(corpus_docs).astype(np.int64) * 3 + 1
    n_copies = docs_per_file // 2
    n_cross = docs_per_file // 10
    sources = iter(
        rng.choice(corpus_docs, sum(files_per_wave) * n_copies, replace=False)
    )
    next_id = ARRIVAL_ID_BASE
    planted: list[tuple[int, int]] = []
    waves: list[list[pa.Table]] = []
    wave1_novel: list[tuple[int, str]] = []
    for wave in range(2):
        if wave == 1:  # wave-1 novel documents that wave 2 edits
            cross = iter(
                rng.choice(
                    len(wave1_novel), files_per_wave[1] * n_cross,
                    replace=False,
                )
            )
        files = []
        for _ in range(files_per_wave[wave]):
            ids: list[int] = []
            texts: list[str] = []

            def add(text: str, source: int | None) -> None:
                nonlocal next_id
                ids.append(next_id)
                texts.append(text)
                if source is not None:
                    planted.append((min(source, next_id), max(source, next_id)))
                next_id += 1

            for _ in range(n_copies):
                s = int(next(sources))
                add(_edit_one_word(rng, vocab, corpus_text[s]), int(corpus_id[s]))
            n_novel = docs_per_file - n_copies
            if wave == 1:
                for _ in range(n_cross):
                    src_id, src_text = wave1_novel[int(next(cross))]
                    add(_edit_one_word(rng, vocab, src_text), src_id)
                n_novel -= n_cross
            for text in random_texts(rng, vocab, n_novel, DOC_WORDS):
                if wave == 0:
                    wave1_novel.append((next_id, text))
                add(text, None)
            files.append(
                pa.table({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
            )
        waves.append(files)
    return {
        "corpus": pa.table({"doc_id": corpus_id, "text": corpus_text}),
        "waves": waves,
        "planted": sorted(planted),
    }
