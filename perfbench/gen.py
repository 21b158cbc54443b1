"""Seeded input generator for the import workload.

`tweets` writes a multi-file headered CSV dump plus a schema file into
`out_dir`, and returns a dict describing it: input rows, CSV bytes, file
count and the figures the output checks expect. The same seed gives
byte-identical files.
"""
import csv
import random
from pathlib import Path

TWEET_COLUMNS = [
    "tweetid", "userid", "user_display_name", "user_screen_name",
    "user_reported_location", "user_profile_description", "user_profile_url",
    "follower_count", "following_count", "account_creation_date",
    "account_language", "tweet_language", "tweet_text", "tweet_time",
    "tweet_client_name", "in_reply_to_tweetid", "in_reply_to_userid",
    "quoted_tweet_tweetid", "is_retweet", "retweet_userid", "retweet_tweetid",
    "latitude", "longitude", "quote_count", "reply_count", "like_count",
    "retweet_count", "hashtags", "urls", "user_mentions", "poll_choices"]

TWEET_TYPES = ["Long", "String", "String", "String", "String", "String", "String",
               "Long", "Long", "String", "String", "String", "String", "String",
               "String", "Long", "String", "Long", "Boolean", "String", "Long",
               "Double", "Double", "Long", "Long", "Long", "Long", "String",
               "String", "String", "String"]

WORDS = ["hello", "world", "Привет", "мир", "добрый", "день", "février", "été",
         "東京", "天気", "😀", "🔥", "news", "vote", "the", "and", "a", "is",
         "data", "spark", "naïve", "café", "über", "señor", "ça", "va",
         "مرحبا", "שלום", "γειά", "σου", "today", "now", "#graft"]
NAMES = ["Alice", "Bob", "Олег", "Мария", "Zoë", "José", "李雷", "田中", "Ana 🌸", "O'Brien"]
PLACES = ["Moscow, Russia", "Springfield, USA", "Paris", "Berlin, DE", "", "東京, 日本", "São Paulo"]
LANGS = ["en", "ru", "fr", "de", "ja", "es", "ar", "und"]
TAGS = ["vote", "news", "USA", "fr", "hiver", "sport", "музыка", "日本"]
CLIENTS = ["Twitter Web Client", "Twitter for iPhone", "Twitter for Android", "TweetDeck"]
BAD_TIMES = ["2015-03-04 05:06:30", "not a time", "", "2015/03/04 05:06", "15-03-04 05:06"]


def tweets(out_dir, seed, rows, files, malformed=0.01, bad_time=0.01,
           null_id=0.005, dup_id=0.01):
    """A seeded dump in the 31-column tweets layout: unicode text, quoted
    delimiters and quotes, and the given shares of malformed rows (a
    non-numeric count: quarantined), invalid `tweet_time` values, NULL
    `tweetid`s and reused tweet ids. The expected accounting follows the
    cleanse contract: rows with an invalid time remove every row sharing
    their id, and NULL ids go once any row is suspect.

    The default shares are assumed, not measured: no corruption or
    invalid-time rate is stated for the tweet dumps this importer was built
    for (the reference's fixture, src/test/data/test-tweets.csv, has 1
    corrupt row in 11, chosen to exercise the path rather than to model a
    dump). They are set small, so that every file and task takes the
    quarantine and cleanse paths while most of the work is on well-formed
    rows."""
    out_dir = Path(out_dir)
    (out_dir / "csv").mkdir(parents=True)
    (out_dir / "schema.txt").write_text(
        "".join(f"{c}={t}\n" for c, t in zip(TWEET_COLUMNS, TWEET_TYPES)))
    rng = random.Random(seed)
    ids, bad_ids, kept = [], set(), []  # kept: ids of well-formed rows
    n_malformed = 0
    paths = [out_dir / "csv" / f"part-{i:03d}.csv" for i in range(files)]
    handles = [open(p, "w", newline="", encoding="utf-8") for p in paths]
    writers = [csv.writer(h, quoting=csv.QUOTE_ALL) for h in handles]
    for w in writers:
        w.writerow(TWEET_COLUMNS)
    next_id = 10_000_000 + rng.randrange(1_000_000)
    for i in range(rows):
        u = rng.randrange(5000)
        r = rng.random()
        if r < null_id:
            tid = None
        elif r < null_id + dup_id and ids:
            tid = rng.choice(ids)
        else:
            next_id += 1 + rng.randrange(3)
            tid = next_id
            ids.append(tid)
        if rng.random() < bad_time:
            t = rng.choice(BAD_TIMES)
        else:
            t = (f"{rng.randrange(2014, 2017)}-{rng.randrange(1, 13):02d}-"
                 f"{rng.randrange(1, 29):02d} {rng.randrange(24):02d}:{rng.randrange(60):02d}")
        is_bad_time = not (len(t) == 16 and t[4] == "-" and t[7] == "-" and t[10] == " ")
        bad_row = rng.random() < malformed
        text = " ".join(rng.choices(WORDS, k=rng.randrange(3, 16)))
        if rng.random() < 0.3:
            text += ', "quoted", and more'
        reply = rng.random() < 0.2
        row = [
            "" if tid is None else str(tid), f"u{u:05d}", rng.choice(NAMES), f"user{u}",
            rng.choice(PLACES), f'likes, commas, "quotes" #{u % 97}',
            "" if u % 3 else f"https://example.org/{u}",
            "n/a" if bad_row else str(rng.randrange(100000)), str(rng.randrange(5000)),
            f"20{rng.randrange(8, 14):02d}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}",
            rng.choice(LANGS), rng.choice(LANGS), text, t, rng.choice(CLIENTS),
            str(rng.randrange(10**9)) if reply else "", f"u{rng.randrange(5000):05d}" if reply else "",
            "", "true" if rng.random() < 0.25 else "false", "", "",
            f"{rng.uniform(-90, 90):.5f}" if u % 5 == 0 else "",
            f"{rng.uniform(-180, 180):.5f}" if u % 5 == 0 else "",
            str(rng.randrange(50)), str(rng.randrange(50)), str(rng.randrange(1000)), str(rng.randrange(500)),
            "[" + ", ".join(rng.sample(TAGS, rng.randrange(0, 4))) + "]",
            "[]" if rng.random() < 0.7 else f"[https://t.co/{rng.randrange(10**6):x}]",
            "[" + ", ".join(f"user{n}" for n in rng.choices(range(5000), k=rng.randrange(0, 3))) + "]",
            ""]
        writers[i % files].writerow(row)
        if bad_row:
            n_malformed += 1
            continue
        if is_bad_time:
            bad_ids.add(tid)
        kept.append(tid)
    for h in handles:
        h.close()
    written = sum(1 for tid in kept if tid is not None and tid not in bad_ids) if bad_ids \
        else len(kept)
    return {"src": str(out_dir / "csv"), "schema": str(out_dir / "schema.txt"),
            "rows": rows, "files": len(paths),
            "csv_bytes": sum(p.stat().st_size for p in paths),
            "expect_written": written, "expect_quarantined": n_malformed,
            "expect_cleansed": len(kept) - written}
