"""Deterministic synthetic image+caption fixture (FIXTURES.md F1).

Schema per BASELINE.json input_hint:
    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long)

Captions cover every rule branch; phash is deliberately skewed (a dominant
cluster landing in one bucket) to exercise the salting path. Image bytes
are real PNGs from the pure-python codec; fmt='jpeg' rows ride the DCT
lossy codec (codecs.dct, PSNR >= 40 dB vs originals).

Everything is seeded via ``numpy.random.Generator(PCG64(seed))`` — same
(n, seed) always yields byte-identical tables.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

from ..codecs.png import encode_image
from ..functions import rulespec as R

_EN_NOUNS = ["dog", "cat", "car", "house", "tree", "river", "mountain", "child",
             "table", "street", "garden", "boat", "bird", "window", "bridge"]
_EN_VERBS = ["standing", "running", "sleeping", "waiting", "playing", "sitting",
             "walking", "jumping", "resting", "looking"]
_DE_WORDS = ["hund", "katze", "auto", "haus", "baum", "fluss", "berg", "kind",
             "tisch", "strasse", "garten", "boot", "vogel", "fenster"]
_FR_WORDS = ["chien", "chat", "voiture", "maison", "arbre", "riviere", "montagne",
             "enfant", "table", "rue", "jardin", "bateau", "oiseau"]
_ES_WORDS = ["perro", "gato", "coche", "casa", "arbol", "rio", "montana", "nino",
             "mesa", "calle", "jardin", "barco", "pajaro"]
_CONSONANTS = list("bcdfghjklmnpqrstvwxz")

CATEGORIES = [
    ("normal_en", 0.27), ("normal_de", 0.07), ("normal_fr", 0.07),
    ("normal_es", 0.07), ("gibberish", 0.08), ("too_short", 0.05),
    ("too_long", 0.03), ("digit_heavy", 0.05), ("repetitive", 0.05),
    ("low_stopword", 0.04), ("email", 0.06), ("phone", 0.06),
    ("toxic", 0.04), ("empty", 0.03), ("ws_edges", 0.03),
]


def _caption(cat: str, rng: np.random.Generator) -> str:
    def pick(lst, k=1):
        return [lst[int(i)] for i in rng.integers(0, len(lst), k)]

    if cat == "normal_en":
        n1, n2 = pick(_EN_NOUNS, 2)
        v = pick(_EN_VERBS)[0]
        extra = " ".join(pick(_EN_NOUNS, int(rng.integers(0, 3))))
        return f"a photo of the {n1} {v} on the {n2} {extra}".strip()
    if cat == "normal_de":
        ws = pick(_DE_WORDS, 4)
        return f"ein bild von der {ws[0]} und das {ws[1]} mit ein {ws[2]} im {ws[3]}"
    if cat == "normal_fr":
        ws = pick(_FR_WORDS, 4)
        return f"une photo du {ws[0]} et le {ws[1]} dans la {ws[2]} pour un {ws[3]}"
    if cat == "normal_es":
        ws = pick(_ES_WORDS, 4)
        return f"una foto del {ws[0]} y el {ws[1]} en la {ws[2]} por una {ws[3]}"
    if cat == "gibberish":
        words = ["".join(pick(_CONSONANTS, int(rng.integers(4, 9)))) for _ in range(int(rng.integers(5, 9)))]
        return " ".join(words)
    if cat == "too_short":
        return pick(_EN_NOUNS)[0][: int(rng.integers(2, 6))]
    if cat == "too_long":
        n1 = pick(_EN_NOUNS)[0]
        return ("the " + n1 + " is near the " + " and the ".join(pick(_EN_NOUNS, 80)) + " ") * 2
    if cat == "digit_heavy":
        digits = "".join(str(int(d)) for d in rng.integers(0, 10, int(rng.integers(12, 24))))
        return f"item {digits} {digits} v{int(rng.integers(1, 99))}"
    if cat == "repetitive":
        w = pick(_EN_NOUNS)[0]
        return " ".join([w] * int(rng.integers(8, 16)))
    if cat == "low_stopword":
        # en-classified (one 'the') but stopword ratio < 5% over 25+ words
        words = pick(_EN_NOUNS, 24) + pick(_EN_VERBS, 4)
        return "the " + " ".join(words)
    if cat == "email":
        n1 = pick(_EN_NOUNS)[0]
        user = "".join(pick(_CONSONANTS, 5))
        return f"a photo of the {n1} contact {user}@example.com for details"
    if cat == "phone":
        n1 = pick(_EN_NOUNS)[0]
        num = "".join(str(int(d)) for d in rng.integers(0, 10, 10))
        return f"the {n1} is for sale call +1 {num[:3]}-{num[3:6]}-{num[6:]} now"
    if cat == "toxic":
        n1, n2 = pick(_EN_NOUNS, 2)
        tox = R.TOXIC_WORDS[int(rng.integers(0, len(R.TOXIC_WORDS)))]
        return f"the {tox} {n1} is on the {n2}"
    if cat == "empty":
        return ["", "   ", "None", "nan", "NaT", "\t", " \n "][int(rng.integers(0, 7))]
    if cat == "ws_edges":
        # leading/trailing/interior non-space whitespace (ADVICE r01): all
        # three rule implementations must trim and word-split identically
        n1, n2 = pick(_EN_NOUNS, 2)
        sep = [" ", "\t", " "][int(rng.integers(0, 3))]
        core = f"a photo of the {n1}{sep}sitting on the {n2} in the garden"
        edges = ["\t", "\n", "\r\n", " \t ", "\x0b", "\f", ""]
        lead = edges[int(rng.integers(0, len(edges)))]
        trail = edges[int(rng.integers(0, len(edges)))]
        return f"{lead}{core}{trail}"
    raise ValueError(cat)


def generate_images_pdf(
    n: int, seed: int = 42, with_bytes: bool = True, n_buckets: int = 16
) -> pd.DataFrame:
    """Deterministic fixture frame of n rows."""
    rng = np.random.default_rng(seed)
    names = [c for c, _ in CATEGORIES]
    weights = np.array([w for _, w in CATEGORIES])
    cats = rng.choice(names, size=n, p=weights / weights.sum())

    captions = [_caption(c, rng) for c in cats]
    # skew: ~45% of rows share one phash bucket (a dominant "language
    # cluster"), the rest are uniform
    heavy = rng.random(n) < 0.45
    phash = rng.integers(0, 2**62, n, dtype=np.int64)
    phash[heavy] = (phash[heavy] // n_buckets) * n_buckets  # ≡ 0 mod n_buckets

    dims = np.array([8, 12, 16])[rng.integers(0, 3, n)]
    fmts = np.where(rng.random(n) < 0.5, "png", "jpeg")

    blobs = None
    if with_bytes:
        blobs = []
        for i in range(n):
            px = rng.integers(0, 256, (int(dims[i]), int(dims[i]), 3), dtype=np.uint8)
            blobs.append(encode_image(px, str(fmts[i])))

    return pd.DataFrame(
        {
            "image_id": [f"img_{i:08d}" for i in range(n)],
            "bytes": blobs if with_bytes else [b""] * n,
            "w": dims.astype(np.int32),
            "h": dims.astype(np.int32),
            "fmt": fmts,
            "caption": captions,
            "phash": phash,
        }
    )


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def images_df(spark, n: int, seed: int = 42, with_bytes: bool = True):
    """Fixture as a Spark DataFrame (Arrow-converted)."""
    return spark.createDataFrame(
        generate_images_pdf(n, seed, with_bytes), schema=IMAGES_SCHEMA
    )


def _fixture_digest(root: str | None = None) -> str:
    """Content key for cached fixtures: a fixture is a function of the
    generator AND the rule battery it is engineered against, so the key
    hashes both source files under ``root`` (the directory holding the
    package). Keying only by (n, seed) would let a generator or rulespec
    edit silently bench stale inputs."""
    root = root or os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    h = hashlib.sha256()
    for rel in ("xoverrr_spark/fixtures/images.py", "xoverrr_spark/functions/rulespec.py"):
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


def cached_images_parquet(n: int, cache_dir: str, with_bytes: bool = False) -> str:
    """Path of the n-row, seed-42 fixture as parquet in ``cache_dir``,
    written on first use and keyed by ``_fixture_digest``. Without
    ``with_bytes`` the file has no ``bytes`` column: the filter never
    decodes, so only the payload run needs it."""
    kind = "images_bytes" if with_bytes else "images"
    path = os.path.join(cache_dir, f"{kind}_n{n}_seed42_{_fixture_digest()}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        pdf = generate_images_pdf(n, seed=42, with_bytes=with_bytes)
        if not with_bytes:
            pdf = pdf.drop(columns=["bytes"])
        tmp = path + ".tmp"
        # small row groups => the file is splittable into many tasks (a real
        # 100 TB table has thousands of files; one local file must emulate that)
        pdf.to_parquet(tmp, index=False, row_group_size=max(n // 128, 1000))
        os.replace(tmp, path)
    return path
