"""Seeded inputs for the four workloads, with their ground truth.

Everything here is plain numpy/pyarrow: no Spark and no engine import, so a
change to the engine can neither move the inputs nor the expected answers.
Each generator writes files into a directory it is given and returns the
paths plus what the engine's output must be. Expected tables are reduced to
an order-independent ``digest`` (row count, sum of 64-bit row hashes), which
the workloads compare against the same digest of what the engine wrote or
returned.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- digests

NULL = np.int64(-(1 << 62))  # stands for SQL NULL inside a digest
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def digest(columns: dict[str, np.ndarray]) -> tuple[int, int]:
    """Multiset digest of a table given as int64 columns (NULL → ``NULL``).

    Row hashes chain the columns in name order; the table digest is the
    row count and the wrapping sum of row hashes, so row order never
    matters and a single changed cell changes the sum."""
    names = sorted(columns)
    n = len(columns[names[0]])
    h = np.zeros(n, dtype=np.uint64)
    for i, name in enumerate(names):
        v = np.asarray(columns[name], dtype=np.int64).view(np.uint64)
        salt = np.uint64((i + 1) * int(_GOLDEN) % (1 << 64))
        h = _mix(h ^ (v + salt))
    return n, int(h.sum(dtype=np.uint64))


def arrow_digest(table: pa.Table, names: list[str]) -> tuple[int, int]:
    """``digest`` of the named columns of an Arrow table; timestamps count
    as epoch microseconds."""
    cols = {}
    for name in names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
        cols[name] = col.cast(pa.int64()).fill_null(int(NULL)).to_numpy()
    return digest(cols)


def _nullable(values: np.ndarray, present: np.ndarray) -> np.ndarray:
    return np.where(present, values, NULL).astype(np.int64)


def _zipf_draw(rng: np.random.Generator, n_values: int, size: int, s: float) -> np.ndarray:
    """Draw ``size`` ranks in [0, n_values) with P(rank) ∝ (rank+1)^-s."""
    p = 1.0 / np.arange(1, n_values + 1, dtype=np.float64) ** s
    return rng.choice(n_values, size=size, p=p / p.sum())


def _zipf_ranks(rng: np.random.Generator, n_values: int, size: int, s: float) -> np.ndarray:
    """``size`` ranks in [0, n_values) whose counts follow (rank+1)^-s
    exactly; only their order depends on ``rng``. Fixed counts keep the
    skew, and with it the work, the same for every seed."""
    p = 1.0 / np.arange(1, n_values + 1, dtype=np.float64) ** s
    counts = np.floor(p / p.sum() * size).astype(np.int64)
    counts[: size - counts.sum()] += 1
    return rng.permutation(np.repeat(np.arange(n_values), counts))


def _write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z in seconds


def _ts_array(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype(np.int64) * 1_000_000, type=pa.timestamp("us", tz="UTC"))


# ---------------------------------------------------------- aliccp_batch

# Ali-CCP field ids (the raw format's contract). User-side fields live in the
# common-features file, item/context fields in the skeleton file.
USER_FIELDS = {
    "101": "user_id", "109_14": "user_categories", "110_14": "user_shops",
    "127_14": "user_brands", "150_14": "user_intentions", "121": "user_profile",
    "122": "user_group", "124": "user_gender", "125": "user_age",
    "126": "user_consumption_1", "127": "user_consumption_2",
    "128": "user_is_occupied", "129": "user_geography",
}
ITEM_FIELDS = {
    "205": "item_id", "206": "item_category", "207": "item_shop",
    "210": "item_intention", "216": "item_brand", "508": "user_item_categories",
    "509": "user_item_shops", "702": "user_item_brands",
    "853": "user_item_intentions", "301": "position",
}
CATEGORIFY = [
    "user_id", "item_id", "item_category", "item_shop", "item_brand",
    "user_shops", "user_profile", "user_group", "user_gender", "user_age",
    "user_consumption_2", "user_is_occupied", "user_geography",
    "user_intentions", "user_brands", "user_categories",
]
GOLD_DIGEST_COLUMNS = ["user_id_raw", "item_id_raw", *CATEGORIFY, "click"]

# Vocabulary sizes of the full dataset (BASELINE.md); the generator keeps
# their ratios and scales them to the input size.
REFERENCE_VOCAB = {
    "user_id": 179_853, "item_id": 1_843_639, "item_category": 7_900,
    "item_shop": 446_101, "item_brand": 191_992, "user_shops": 82_869,
    "user_profile": 97, "user_group": 13, "user_gender": 2, "user_age": 7,
    "user_consumption_2": 3, "user_is_occupied": 2, "user_geography": 4,
    "user_intentions": 26_184, "user_brands": 41_164, "user_categories": 5_308,
}
COLLISION_FIELDS = ["101", "124"]  # user fields that skeleton rows also carry


def vocab_size(column: str, n_rows: int) -> int:
    """item_id's vocabulary is half the row count; every other column keeps
    its reference ratio to item_id, but never shrinks below min(ref, 100)."""
    ref = REFERENCE_VOCAB.get(column, 100)
    scaled = round(ref * (n_rows / 2) / REFERENCE_VOCAB["item_id"])
    return max(scaled, min(ref, 100))


@dataclass
class AliccpInputs:
    skeleton_csv: str
    common_csv: str
    n_rows: int
    silver_rows: int
    gold_digest: tuple[int, int]
    vocab_rows: int


def _field_values(rng, names: dict[str, str], n: int, n_rows: int, missing: float):
    """Per field: (int values, present mask). ``missing`` of the rows lose
    one field each."""
    values, present = {}, {}
    for fid, name in names.items():
        vocab = vocab_size(name, n_rows)
        values[fid] = _zipf_draw(rng, vocab, n, 0.8) + 1
        present[fid] = np.ones(n, dtype=bool)
    lose = rng.random(n) < missing
    which = rng.integers(0, len(names), n)
    for j, fid in enumerate(names):
        present[fid] &= ~(lose & (which == j))
    return values, present


def _kv_rows(values: dict, present: dict, order: list[str], n: int, rng) -> list[str]:
    """Render each row's triplets ``fid \\x02 feat_id \\x03 feat_val`` joined
    by ``\\x01`` — the raw Ali-CCP encoding."""
    weights = rng.choice(["1.0", "0.5", "0.69315"], size=n)
    cols = []
    for fid in order:
        v, p = values[fid], present[fid]
        cols.append([f"{fid}\x02{v[i]}\x03{weights[i]}" if p[i] else "" for i in range(n)])
    return ["\x01".join(t for t in row if t) for row in zip(*cols)]


def aliccp(rng: np.random.Generator, out_dir: str, n_rows: int) -> AliccpInputs:
    """Skeleton + common-features CSVs with dangling FKs, missing fields,
    click=0/conversion=1 rows and skeleton↔common field-id collisions, and
    the Gold table those inputs must produce."""
    n_blocks = max(n_rows // 4, 1)
    uvals, upres = _field_values(rng, USER_FIELDS, n_blocks, n_rows, missing=0.10)
    ivals, ipres = _field_values(rng, ITEM_FIELDS, n_rows, n_rows, missing=0.10)

    # Skeleton rows point at a block; 3% point at a block that does not exist.
    block = rng.integers(0, n_blocks, n_rows)
    dangling = rng.random(n_rows) < 0.03
    click = (rng.random(n_rows) < 0.2).astype(np.int64)
    conversion = ((rng.random(n_rows) < 0.3) & (click == 1)).astype(np.int64)
    bad_label = rng.random(n_rows) < 0.02  # click=0, conversion=1: dropped
    click[bad_label] = 0
    conversion[bad_label] = 1

    # 5% of skeleton rows also carry a user field; the common value wins.
    collide = {fid: np.zeros(n_rows, dtype=bool) for fid in COLLISION_FIELDS}
    coll_vals = {}
    pick = rng.integers(0, len(COLLISION_FIELDS), n_rows)
    has = rng.random(n_rows) < 0.05
    for j, fid in enumerate(COLLISION_FIELDS):
        collide[fid] = has & (pick == j)
        coll_vals[fid] = rng.integers(1, vocab_size(USER_FIELDS[fid], n_rows) + 1, n_rows)

    skel_values = dict(ivals)
    skel_present = dict(ipres)
    for fid in COLLISION_FIELDS:
        skel_values[fid] = coll_vals[fid]
        skel_present[fid] = collide[fid]
    skel_order = [*ITEM_FIELDS, *COLLISION_FIELDS]

    skel_lists = _kv_rows(skel_values, skel_present, skel_order, n_rows, rng)
    fk = [f"x{b}" if d else f"b{b}" for b, d in zip(block, dangling)]
    sample_ids = rng.permutation(n_rows) + 1
    lines = [
        f"{sample_ids[i]},{click[i]},{conversion[i]},{fk[i]},{s.count(chr(1)) + 1 if s else 0},{s}"
        for i, s in enumerate(skel_lists)
    ]
    skeleton_csv = os.path.join(out_dir, "aliccp", "skeleton", "part-0.csv")
    os.makedirs(os.path.dirname(skeleton_csv), exist_ok=True)
    with open(skeleton_csv, "w", encoding="ascii") as f:
        f.write("\n".join(lines) + "\n")

    common_lists = _kv_rows(uvals, upres, list(USER_FIELDS), n_blocks, rng)
    common_csv = os.path.join(out_dir, "aliccp", "common", "part-0.csv")
    os.makedirs(os.path.dirname(common_csv), exist_ok=True)
    with open(common_csv, "w", encoding="ascii") as f:
        f.write(
            "\n".join(
                f"b{b},{s.count(chr(1)) + 1 if s else 0},{s}" for b, s in enumerate(common_lists)
            )
            + "\n"
        )

    # --- ground truth: silver columns (int64, NULL sentinel) ---
    silver = {}
    joined = ~dangling
    for fid, name in USER_FIELDS.items():
        from_common = joined & upres[fid][block]
        val = np.where(from_common, uvals[fid][block], NULL)
        if fid in collide:
            val = np.where(~from_common & collide[fid], coll_vals[fid], val)
        silver[name] = val.astype(np.int64)
    for fid, name in ITEM_FIELDS.items():
        silver[name] = _nullable(ivals[fid], ipres[fid])
    keep = ~((click == 0) & (conversion == 1))
    silver_rows = int(keep.sum())

    gold_cols = [*CATEGORIFY, "click"]
    silver["click"] = click
    rows = keep.copy()
    for c in gold_cols:
        rows &= silver[c] != NULL
    gold = {"user_id_raw": silver["user_id"][rows], "item_id_raw": silver["item_id"][rows],
            "click": click[rows]}
    vocab_rows = 0
    for c in CATEGORIFY:
        v = silver[c][rows]
        values, counts = np.unique(v, return_counts=True)
        order = np.lexsort((values, -counts))  # count desc, value asc
        index = np.empty(len(values), dtype=np.int64)
        index[order] = np.arange(len(values))
        gold[c] = index[np.searchsorted(values, v)]
        vocab_rows += len(values)
    return AliccpInputs(
        skeleton_csv=skeleton_csv,
        common_csv=common_csv,
        n_rows=n_rows,
        silver_rows=silver_rows,
        gold_digest=digest(gold),
        vocab_rows=vocab_rows,
    )


# ---------------------------------------------------------- training_set

USER_VIEW_FEATURES = [
    "user_shops", "user_profile", "user_group", "user_gender", "user_age",
    "user_consumption_2", "user_is_occupied", "user_geography",
    "user_intentions", "user_brands", "user_categories",
]
ITEM_VIEW_FEATURES = ["item_category", "item_shop", "item_brand"]
USER_TTL_DAYS = 365
ITEM_TTL_DAYS = 90
ENTITY_COLUMNS = ["user_id_raw", "item_id", "event_timestamp"]
TRAINING_COLUMNS = [*ENTITY_COLUMNS, *USER_VIEW_FEATURES, *ITEM_VIEW_FEATURES]


@dataclass
class TrainingInputs:
    features_parquet: str
    entities_parquet: str
    n_entities: int
    n_feature_rows: int
    digest: tuple[int, int]
    candidate_rows: int  # entity × feature pairs passing the as-of range, both views


def _asof_expected(
    key_f, ts_f, feats: dict[str, np.ndarray], key_e, ts_e, ttl_s: int
) -> tuple[dict[str, np.ndarray], int]:
    """Latest feature row at or before each entity time within the TTL; ties
    on the timestamp go to the largest feature tuple (features compared in
    view order, all non-null). Also returns how many feature rows pass the
    range predicate in total (the join's candidate rows)."""
    names = list(feats)
    order = np.lexsort([feats[n] for n in reversed(names)] + [ts_f, key_f])
    ks, ts = key_f[order], ts_f[order]
    comp = (ks << 34) + ts
    q = (key_e << 34) + ts_e
    pos = np.searchsorted(comp, q, side="right") - 1
    lo = np.searchsorted(comp, (key_e << 34) + ts_e - ttl_s, side="left")
    ok = (pos >= 0) & (ks[np.maximum(pos, 0)] == key_e) & (ts[np.maximum(pos, 0)] >= ts_e - ttl_s)
    out = {n: np.where(ok, feats[n][order][np.maximum(pos, 0)], NULL) for n in names}
    return out, int(np.maximum(pos + 1 - lo, 0).sum())


def training(
    rng: np.random.Generator, out_dir: str, n_feature_rows: int, n_entities: int
) -> TrainingInputs:
    """A Gold-shaped feature table with Zipf-skewed rows per key and
    timestamp ties, an entity table with times before, between, equal to
    and past the TTL of feature rows, and the expected training set."""
    n_users = max(n_feature_rows // 25, 1)
    n_items = max(n_feature_rows // 40, 1)
    # Which id holds which popularity rank is random; a key's rank sets both
    # its feature rows and its entity rows, so heavy keys are heavy in both.
    user_ids = rng.permutation(n_users) + 1
    item_ids = rng.permutation(n_items) + 1
    user = user_ids[_zipf_ranks(rng, n_users, n_feature_rows, 1.0)]
    item = item_ids[_zipf_ranks(rng, n_items, n_feature_rows, 0.9)]
    # Day-granular times at 00:00 or 12:00 over two years: many ties per key.
    ts = EPOCH_2024 + rng.integers(0, 730, n_feature_rows) * 86_400 + rng.integers(0, 2, n_feature_rows) * 43_200
    feats = {}
    for c in USER_VIEW_FEATURES + ITEM_VIEW_FEATURES:
        feats[c] = rng.integers(0, min(vocab_size(c, 200_000), 50), n_feature_rows).astype(np.int64)
    table = pa.table(
        {
            "user_id_raw": pa.array(user.astype(np.int32)),
            "item_id": pa.array(item.astype(np.int32)),
            "datetime": _ts_array(ts),
            **{c: pa.array(v.astype(np.int32)) for c, v in feats.items()},
            "click": pa.array(rng.integers(0, 2, n_feature_rows).astype(np.int32)),
        }
    )
    features_parquet = _write_parquet(table, os.path.join(out_dir, "training", "features.parquet"))

    e_user = user_ids[_zipf_ranks(rng, n_users, n_entities, 0.6)]
    unknown = rng.random(n_entities) < 0.05
    e_user[unknown] = n_users + 1 + rng.integers(0, n_users, int(unknown.sum()))
    e_item = item_ids[_zipf_ranks(rng, n_items, n_entities, 0.6)]
    e_ts = EPOCH_2024 + rng.integers(-60, 800, n_entities) * 86_400 + rng.integers(0, 86_400, n_entities)
    # 10% of entity times equal one of the feature rows' times exactly.
    eq = rng.random(n_entities) < 0.10
    e_ts[eq] = ts[rng.integers(0, n_feature_rows, int(eq.sum()))]
    ents = pa.table(
        {
            "user_id_raw": pa.array(e_user.astype(np.int32)),
            "item_id": pa.array(e_item.astype(np.int32)),
            "event_timestamp": _ts_array(e_ts),
        }
    )
    entities_parquet = _write_parquet(ents, os.path.join(out_dir, "training", "entities.parquet"))

    ufeat, ucand = _asof_expected(
        user, ts, {c: feats[c] for c in USER_VIEW_FEATURES}, e_user, e_ts, USER_TTL_DAYS * 86_400
    )
    ifeat, icand = _asof_expected(
        item, ts, {c: feats[c] for c in ITEM_VIEW_FEATURES}, e_item, e_ts, ITEM_TTL_DAYS * 86_400
    )
    expected = {
        "user_id_raw": e_user.astype(np.int64),
        "item_id": e_item.astype(np.int64),
        "event_timestamp": e_ts.astype(np.int64) * 1_000_000,
        **ufeat,
        **ifeat,
    }
    return TrainingInputs(
        features_parquet=features_parquet,
        entities_parquet=entities_parquet,
        n_entities=n_entities,
        n_feature_rows=n_feature_rows,
        digest=digest(expected),
        candidate_rows=ucand + icand,
    )


# -------------------------------------------------------- online_serving

ONLINE_KEY = "user_id_raw"
ONLINE_ENCODED = ["user_shops", "user_brands"]  # raw ids, dictionary-encoded
ONLINE_PLAIN = ["user_age", "user_gender", "user_group"]
ONLINE_RAW_VOCAB = {"user_shops": 2_000, "user_brands": 1_000}


@dataclass
class OnlineInputs:
    """Base table and a generator of micro-batches and request keys; the
    dictionaries the engine must fit on the base table, for the model."""

    base_parquet: str
    n_users: int
    batch_rows: int
    keys_per_request: int
    seed: int
    dictionaries: dict[str, dict[int, int]] = field(default_factory=dict)

    def batch(self, tick: int) -> pa.Table:
        """Micro-batch ``tick`` (1-based): rows strictly later than every
        earlier batch, with timestamp ties inside the batch and ~5% raw
        values the dictionaries have never seen."""
        rng = np.random.default_rng([self.seed, 1, tick])
        n = self.batch_rows
        ts = EPOCH_2024 + 400 * 86_400 + tick * 3_600 + rng.integers(0, 3, n) * 60
        return _online_table(rng, _zipf_draw(rng, self.n_users, n, 0.9) + 1, ts, unseen=0.05)

    def request(self, rng: np.random.Generator, must_include: np.ndarray | None = None) -> list[int]:
        """Distinct request keys, Zipf-drawn over known users, ~5% unknown."""
        keys = set(int(k) for k in (must_include if must_include is not None else []))
        while len(keys) < self.keys_per_request:
            if rng.random() < 0.05:
                keys.add(int(self.n_users + 1 + rng.integers(0, 1_000_000)))
            else:
                keys.add(int(_zipf_draw(rng, self.n_users, 1, 0.9)[0] + 1))
        return sorted(keys)


def _online_table(rng, users: np.ndarray, ts: np.ndarray, unseen: float) -> pa.Table:
    n = len(users)
    cols = {ONLINE_KEY: pa.array(users.astype(np.int32)), "datetime": _ts_array(ts)}
    for c in ONLINE_ENCODED:
        v = _zipf_draw(rng, ONLINE_RAW_VOCAB[c], n, 0.7) + 1
        new = rng.random(n) < unseen
        v[new] = ONLINE_RAW_VOCAB[c] + 1 + rng.integers(0, 10_000, int(new.sum()))
        cols[c] = pa.array(v.astype(np.int32))
    for c, hi in zip(ONLINE_PLAIN, (7, 2, 13)):
        cols[c] = pa.array(rng.integers(0, hi, n).astype(np.int32))
    return pa.table(cols)


def online(
    rng: np.random.Generator, out_dir: str, n_users: int, base_rows: int,
    batch_rows: int, keys_per_request: int, seed: int,
) -> OnlineInputs:
    users = np.concatenate([np.arange(1, n_users + 1), _zipf_draw(rng, n_users, base_rows - n_users, 0.9) + 1])
    ts = EPOCH_2024 + rng.integers(0, 400, base_rows) * 86_400
    base = _online_table(rng, users, ts, unseen=0.0)
    base_parquet = _write_parquet(base, os.path.join(out_dir, "online", "base.parquet"))
    dictionaries = {}
    for c in ONLINE_ENCODED:
        values, counts = np.unique(base.column(c).to_numpy(), return_counts=True)
        order = np.lexsort((values, -counts))
        dictionaries[c] = {int(values[j]): i for i, j in enumerate(order)}
    return OnlineInputs(base_parquet, n_users, batch_rows, keys_per_request, seed, dictionaries)


class OnlineModel:
    """Latest-per-key model of the online table: per key, the largest
    (ts, *other value columns in table order) tuple wins, as the store's
    upsert orders rows. Values are dictionary-encoded as the stream
    transform does (unseen → vocabulary size)."""

    def __init__(self, dictionaries: dict[str, dict[int, int]], columns: list[str]):
        self.dictionaries = dictionaries
        self.columns = columns  # store value columns, in table order
        self.rows: dict[int, tuple] = {}

    def _encode(self, table: pa.Table) -> dict[str, list]:
        out = {}
        for c in self.columns:
            raw = table.column(c)
            if pa.types.is_timestamp(raw.type):
                raw = raw.cast(pa.int64())
            vals = raw.to_pylist()
            d = self.dictionaries.get(c)
            out[c] = [d.get(v, len(d)) for v in vals] if d is not None else vals
        return out

    def apply(self, table: pa.Table) -> None:
        enc = self._encode(table)
        ts_i = self.columns.index("datetime")
        order = [ts_i] + [i for i in range(len(self.columns)) if i != ts_i]
        for j, key in enumerate(table.column(ONLINE_KEY).to_pylist()):
            row = tuple(enc[c][j] for c in self.columns)
            cur = self.rows.get(key)
            if cur is None or tuple(row[i] for i in order) > tuple(cur[i] for i in order):
                self.rows[key] = row

    def expected(self, key: int, features: list[str]) -> tuple | None:
        row = self.rows.get(key)
        if row is None:
            return None
        return tuple(row[self.columns.index(f)] for f in features)

    def digest(self) -> tuple[int, int]:
        keys = np.array(list(self.rows), dtype=np.int64)
        cols = {ONLINE_KEY: keys}
        for i, c in enumerate(self.columns):
            cols[c] = np.array([self.rows[k][i] for k in self.rows], dtype=np.int64)
        return digest(cols)


# ------------------------------------------------------- corpus_curation

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]
_CONSONANTS = "bcdfghjklmnpqrstvwxz"
_VOWELS = "aeiou"


@dataclass
class CorpusInputs:
    docs_parquet: str
    n_docs: int
    gated: int  # docs passing the language and quality gates
    exact_survivors: int  # distinct redacted texts among the gated docs
    planted_pairs: set[tuple[int, int]]  # (root id, near-copy id), both surviving
    groups: dict[int, int]  # doc id → near-copy group (its root's id)


def _words(rng, n: int) -> list[str]:
    """``n`` pronounceable non-English words of 2–4 syllables."""
    syllables = [c + v for c in _CONSONANTS for v in _VOWELS]
    picks = rng.integers(0, len(syllables), (n, 4))
    lengths = rng.integers(2, 5, n)
    return ["".join(syllables[j] for j in row[:k]) for row, k in zip(picks, lengths)]


_PUNCT = re.compile(r"[.,;:!?]")


def quality(text: str) -> tuple[str, float]:
    """Python model of the language and quality gates on clean ASCII text:
    stopword ratio → en/mixed/other; quality = min(tokens/100, 1) ×
    (1 − min(5 × punctuation ratio, 1))."""
    toks = text.split(" ")
    ratio = sum(t in STOPWORDS for t in toks) / max(len(toks), 1)
    lang = "en" if ratio >= 0.15 else ("mixed" if ratio >= 0.05 else "other")
    punct = len(_PUNCT.findall(text)) / max(len(text), 1)
    return lang, min(len(toks) / 100.0, 1.0) * (1.0 - min(punct * 5.0, 1.0))


QUALITY_MIN = 0.5


def _document(rng, vocab: list[str], n_tokens: int, stop_share: float) -> str:
    stop = rng.random(n_tokens) < stop_share
    stop_pick = rng.integers(0, len(STOPWORDS), n_tokens)
    word_pick = rng.integers(0, len(vocab), n_tokens)
    toks = [STOPWORDS[s] if st else vocab[w] for st, s, w in zip(stop, stop_pick, word_pick)]
    for i in range(14, n_tokens, 15):
        toks[i] += "."
    if rng.random() < 0.2:
        toks.insert(int(rng.integers(0, n_tokens)), f"user{int(rng.integers(0, 999))}@example.com")
    if rng.random() < 0.1:
        toks.insert(int(rng.integers(0, n_tokens)), f"+1 555 {int(rng.integers(1000, 9999))} 0101")
    return " ".join(toks)


def _noisy_copy(rng, text: str) -> str:
    """Same text after cleaning: markup tags, doubled spaces, padding."""
    toks = text.split(" ")
    i = int(rng.integers(1, len(toks)))
    toks[i] = "<b>" + toks[i] + "</b>" if rng.random() < 0.5 else "  " + toks[i]
    return " \t" + " ".join(toks) + "\n"


_PLAIN_WORD = re.compile(r"[a-z]+\.?")

# The PII patterns, replayed in Python to know which texts become equal
# once redacted.
_PII = [
    (re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    (re.compile(r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"), "<IP>"),
    (re.compile(r"\+?[0-9][0-9()\- \t\n\r\f\x0B]{6,}[0-9]"), "<PHONE>"),
]


def redact(text: str) -> str:
    for pattern, token in _PII:
        text = pattern.sub(token, text)
    return text


def corpus(rng: np.random.Generator, out_dir: str, n_docs: int) -> CorpusInputs:
    """Documents: ~80% clean English-like docs, junk that the gates drop
    (short, non-English, punctuation spam), planted exact copies (noisy
    variants that clean to the same text) and near-copies of clean docs
    (one swapped word: character-5-shingle Jaccard ≈ 0.95–0.97, which the
    default 4×8 LSH bands catch with probability ≈ 0.99)."""
    vocab = _words(rng, 5_000)
    raw: list[str] = []  # what the engine reads
    canon: list[str] = []  # the same text after cleaning
    roots: list[int] = []  # indices of clean docs that near-copies copy
    group: dict[int, int] = {}
    while len(raw) < n_docs:
        r, i = rng.random(), len(raw)
        if r < 0.06:  # short junk
            text = _document(rng, vocab, int(rng.integers(5, 25)), 0.3)
        elif r < 0.10:  # non-English
            text = _document(rng, vocab, int(rng.integers(80, 140)), 0.0)
        elif r < 0.12:  # punctuation spam
            text = _document(rng, vocab, int(rng.integers(80, 140)), 0.3).replace(" ", "!? ")
        elif r < 0.17 and i:  # exact copy, noisy before cleaning
            j = int(rng.integers(0, i))
            raw.append(_noisy_copy(rng, canon[j]))
            canon.append(canon[j])
            continue
        elif r < 0.22 and roots:  # near copy of a clean doc
            j = roots[int(rng.integers(0, len(roots)))]
            toks = canon[j].split(" ")
            plain = [k for k, t in enumerate(toks) if _PLAIN_WORD.fullmatch(t)]
            k = plain[int(rng.integers(0, len(plain)))]
            toks[k] = vocab[rng.integers(0, len(vocab))] + ("." if toks[k].endswith(".") else "")
            text = " ".join(toks)
            group[i] = j
            group.setdefault(j, j)
        else:
            text = _document(rng, vocab, int(rng.integers(90, 160)), 0.3)
            roots.append(i)
        raw.append(text)
        canon.append(text)

    survivors: dict[str, int] = {}  # redacted text → smallest surviving index
    gated = 0
    for i, text in enumerate(canon):
        lang, q = quality(text)
        if lang == "en" and q >= QUALITY_MIN:
            gated += 1
            survivors.setdefault(redact(text), i)
    kept = set(survivors.values())
    planted = {
        (j + 1, i + 1)
        for i, j in group.items()
        if i != j and i in kept and j in kept and redact(canon[i]) != redact(canon[j])
    }
    docs = pa.table({"doc_id": pa.array(np.arange(1, n_docs + 1, dtype=np.int64)), "text": pa.array(raw)})
    return CorpusInputs(
        docs_parquet=_write_parquet(docs, os.path.join(out_dir, "corpus", "docs.parquet")),
        n_docs=n_docs,
        gated=gated,
        exact_survivors=len(survivors),
        planted_pairs=planted,
        groups={i + 1: j + 1 for i, j in group.items()},
    )
