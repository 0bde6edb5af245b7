"""Seeded input generator for the benchmark workloads.

Every table follows the test corpus schemas of TESTDATA.md (events,
documents, embeddings); the values are chat-shaped: Zipf-skewed users,
emotes and channels, a fixed share of late messages, a corpus with a controlled
near-duplicate share and clustered embeddings. The same seed always gives
byte-identical inputs.

Sizes taken from the repository: about 10^1 channels, an emote dictionary
of about 10^4 entries and about 10^1 phrases (SURVEY.md section 4.2, the
StatsPipeline.extractEmotes and matchPhrases docs). Every other figure of
the chat mix (user count, Zipf exponents, emote-token share, line length,
late share, slice size, preloaded days) is an assumption of this benchmark,
not a measured property of the reference's traffic; ASSUMED and LIVE list
them.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
WINDOW_MS = 900_000            # Tables.WindowMillis: 15-minute windows
SLICE_MS = 300_000             # one live slice = 5 minutes of chat
T0_MS = 1_709_251_200_000      # 2024-03-01T00:00:00Z, first preloaded day

CHANNELS = [f"c{i}" for i in range(8)]
HIDDEN = "c7"
GLOBAL_EMOTES = [
    "Kappa", "PogChamp", "LUL", "KEKW", "OMEGALUL", "monkaS", "Pog",
    "PepeHands", "FeelsBadMan", "FeelsGoodMan", "5Head", "Jebaited",
    "BibleThump", "Kreygasm", "ResidentSleeper", "TriHard", "WutFace",
    "DansGame", "SeemsGood", "NotLikeThis", "HeyGuys", "VoHiYo",
    "CoolStoryBob", "SMOrc", "EZ", "Sadge", "catJAM", "PauseChamp", "monkaW",
    "peepoHappy", "widepeepoHappy", "Clap", "HYPERS", "POGGERS", "LULW",
    "pepeLaugh", "AYAYA", "gachiGASM", "FrankerZ", "BabyRage"]
# The dictionary: the global emotes first (the head of the Zipf ranking),
# then synthetic subscriber emotes up to 10^4 entries.
EMOTE_COUNT = 10_000
SUB_SUFFIXES = ["Hype", "Love", "Rage", "Wave", "Gg"]
EMOTES = GLOBAL_EMOTES + [
    f"sub{i // 5:04d}{SUB_SUFFIXES[i % 5]}"
    for i in range(EMOTE_COUNT - len(GLOBAL_EMOTES))]
WORDS = ["gg", "lol", "wp", "nice", "what", "is", "this", "hype", "no", "way",
         "chat", "clip", "it", "that", "the", "stream", "is", "so", "good",
         "bad", "lul", "omg", "wow", "play", "game", "win", "lose", "again",
         "why", "how", "yes", "go", "lets", "first", "time", "here", "hi",
         "bye", "mods", "ban", "him", "please", "true", "real", "based",
         "ratio", "cope", "skill", "issue", "easy", "hard", "run", "boss",
         "fight", "loot", "drop", "rng", "insane", "clean", "throw"]
# name, regex, channel filter, log flag (Tables.Phrase). Patterns read the
# same under java.util.regex and RE2 so DuckDB can recount them, and none
# matches the empty string.
PHRASES = [("p_gg", "(?i)gg", None, True),
           ("p_lol", "(?i)lol|lul", None, False),
           ("p_c3_hype", "(?i)hype", "c3", False),
           ("p_pog", "(?i)pog", None, False),
           ("p_kek", "(?i)kekw?", None, False),
           ("p_clip", "(?i)clip it", None, True),
           ("p_ban", "(?i)ban (him|it)", "c[0-3]", False),
           ("p_boss", "(?i)boss fight", None, False),
           ("p_skill", "(?i)skill issue", "c[4-6]", True),
           ("p_first", "(?i)first time", None, False)]

# Assumed figures of the chat mix (no measured source; see the module doc).
ASSUMED = dict(users=5000, user_skew=1.1, channel_skew=0.8, emote_skew=1.0,
               word_skew=0.9, emote_share=0.35, line_tokens=(2, 12),
               message_pool=4000, message_pool_skew=0.6)
LIVE = dict(preload_days=2, preload_msgs_per_day=60_000,
            preload_docs_per_day=12_000, slice_msgs=2000, slice_docs=400,
            late_share=0.02, late_max_ms=3_600_000, slices=64)
CORPUS = dict(docs=500, neardup_share=0.2, doc_tokens=(40, 80),
              vectors=600, dims=64, clusters=16, spread=0.15)
CORPUS_ENTRIES = ["x38_incremental_neardup", "x3_cosine_topk",
                  "x147_ivf_recall", "x15_tfidf"]
LIVE_READS = ["channels", "emote_stats", "user", "user_emote", "channel",
              "cumulative_base", "cumulative_sums", "resample", "ranked"]


def zipf_p(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def chat_lines(rng, n):
    """`n` chat lines of 2-12 tokens; each token is an emote with
    probability `emote_share`, else a word."""
    a = ASSUMED
    lo, hi = a["line_tokens"]
    k = rng.integers(lo, hi + 1, n)
    total = int(k.sum())
    is_emote = rng.random(total) < a["emote_share"]
    em = rng.choice(len(EMOTES), total, p=zipf_p(len(EMOTES), a["emote_skew"]))
    wd = rng.choice(len(WORDS), total, p=zipf_p(len(WORDS), a["word_skew"]))
    tokens = np.where(is_emote, np.array(EMOTES, dtype=object)[em],
                      np.array(WORDS, dtype=object)[wd])
    ends = np.cumsum(k)
    return np.array([" ".join(tokens[e - m:e]) for e, m in zip(ends, k)],
                    dtype=object)


class Chat:
    """Shared draws for chat rows: channel and user skew, message text.

    Document text, which the emote and phrase grains read, is drawn token
    by token for every document. Message text is payload no stats grain
    reads; it comes from a Zipf-weighted pool of lines."""

    def __init__(self, rng):
        a = ASSUMED
        self.rng = rng
        self.users = a["users"]
        self.up = zipf_p(self.users, a["user_skew"])
        self.user_perm = rng.permutation(self.users) + 1
        self.cp = zipf_p(len(CHANNELS), a["channel_skew"])
        self.pool = chat_lines(rng, a["message_pool"])
        self.pool_p = zipf_p(len(self.pool), a["message_pool_skew"])
        self.next_event = 0
        self.next_doc = 0

    def user(self):
        return str(self.user_perm[self.rng.choice(self.users, p=self.up)])

    def messages(self, n, ts_ms):
        rng = self.rng
        ids = np.arange(self.next_event, self.next_event + n, dtype=np.int64)
        self.next_event += n
        users = self.user_perm[rng.choice(self.users, n, p=self.up)]
        chans = np.array(CHANNELS, dtype=object)[
            rng.choice(len(CHANNELS), n, p=self.cp)]
        text = self.pool[rng.choice(len(self.pool), n, p=self.pool_p)]
        return pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(np.asarray(ts_ms, dtype=np.int64) * 1000,
                           pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64), pa.int64()),
            "event_type": pa.array(chans, pa.string()),
            "value": pa.array(np.round(rng.random(n) * 100, 2), pa.float64()),
            "props": pa.array(text, pa.string())})

    def documents(self, n):
        rng = self.rng
        ids = np.arange(self.next_doc, self.next_doc + n, dtype=np.int64)
        self.next_doc += n
        users = self.user_perm[rng.choice(self.users, n, p=self.up)]
        chans = np.array(CHANNELS, dtype=object)[
            rng.choice(len(CHANNELS), n, p=self.cp)]
        text = chat_lines(rng, n)
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(chans, pa.string()),
            "source": pa.array(users.astype(str), pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64())})


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def sorted_ts(rng, n, start_ms, span_ms):
    return np.sort(start_ms + rng.integers(0, span_ms, n))


def gen_live(rng, out):
    c = LIVE
    chat = Chat(rng)
    days = c["preload_days"]
    n = c["preload_msgs_per_day"] * days
    write(chat.messages(n, sorted_ts(rng, n, T0_MS, days * DAY_MS)),
          f"{out}/preload/events.parquet")
    write(chat.documents(c["preload_docs_per_day"] * days),
          f"{out}/preload/documents.parquet")
    start = T0_MS + days * DAY_MS
    late = int(round(c["slice_msgs"] * c["late_share"]))
    for s in range(c["slices"]):
        lo = start + s * SLICE_MS
        on_time = sorted_ts(rng, c["slice_msgs"] - late, lo, SLICE_MS)
        # Late rows arrive in this slice but belong to earlier windows; near
        # the start they fall back into the last preloaded day.
        lag = rng.integers(SLICE_MS, c["late_max_ms"], late)
        ts = np.concatenate([on_time, lo - lag])
        write(chat.messages(c["slice_msgs"], ts),
              f"{out}/slices/{s:04d}/events.parquet")
        write(chat.documents(c["slice_docs"]),
              f"{out}/slices/{s:04d}/documents.parquet")
    cycles = []
    emote_p = zipf_p(len(EMOTES), ASSUMED["emote_skew"])
    for s in range(c["slices"]):
        order = list(rng.permutation(LIVE_READS))
        cycles.append({
            "order": order,
            "user": chat.user(),
            "emote": EMOTES[int(rng.choice(len(EMOTES), p=emote_p))],
            "channel": CHANNELS[int(rng.integers(0, len(CHANNELS) - 1))],
            "now": start + (s + 1) * SLICE_MS})
    return {"cycles": cycles,
            "preload_rows": (c["preload_msgs_per_day"]
                             + c["preload_docs_per_day"]) * days}


def gen_corpus(rng, out):
    c = CORPUS
    vocab = [f"w{i}" for i in range(3000)]
    vp = zipf_p(len(vocab), 0.8)
    n_base = int(round(c["docs"] * (1 - c["neardup_share"])))
    texts = []
    for _ in range(n_base):
        k = int(rng.integers(*c["doc_tokens"]))
        texts.append([vocab[i] for i in rng.choice(len(vocab), k, p=vp)])
    # Near-duplicates: a copy of a base document with one token changed, so
    # its 3-shingle Jaccard to the source stays high.
    for _ in range(c["docs"] - n_base):
        src = list(texts[int(rng.integers(0, n_base))])
        src[int(rng.integers(0, len(src)))] = vocab[int(rng.integers(0, 3000))]
        texts.append(src)
    order = rng.permutation(len(texts))
    docs = [" ".join(texts[i]) for i in order]
    langs = np.array(["en", "es", "de", "fr", "zh"], dtype=object)[
        rng.integers(0, 5, len(docs))]
    write(pa.table({
        "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, len(docs))],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in docs], pa.int64())}),
        f"{out}/corpus/documents.parquet")
    cent = rng.normal(0, 1, (c["clusters"], c["dims"]))
    lab = rng.integers(0, c["clusters"], c["vectors"])
    vec = cent[lab] + rng.normal(0, c["spread"], (c["vectors"], c["dims"]))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write(pa.table({
        "vec_id": pa.array(np.arange(c["vectors"], dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32), pa.int32())}),
        f"{out}/corpus/embeddings.parquet")
    passes = [list(rng.permutation(CORPUS_ENTRIES)) for _ in range(64)]
    return {"passes": passes, "entries": CORPUS_ENTRIES,
            "corpus_rows": c["docs"] + c["vectors"]}


GENERATORS = {"live": gen_live, "corpus": gen_corpus}


def generate(workload, seed, out):
    """Write the workload's inputs under `out` and return its plan."""
    rng = np.random.default_rng([seed, list(GENERATORS).index(workload)])
    plan = GENERATORS[workload](rng, out)
    plan.update(workload=workload, seed=seed, window_ms=WINDOW_MS,
                channels=CHANNELS, hidden=HIDDEN, emotes=EMOTES,
                phrases=[list(p) for p in PHRASES])
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f, default=int)
    return plan
