"""Seeded input generators. The same seed gives byte-identical inputs;
the program only ever sees what these produce.

* `JobFeed` — consecutive days of scraped job listings for two sources,
  with a stated daily churn, plus the merge counts each day must yield.
* `CorpusGen` — batches of synthetic documents with planted exact
  duplicates, shared boilerplate spans, benchmark-contaminated spans and
  gibberish, drawn from the per-language vocabulary of the fixture's
  `documents` table.
"""

from __future__ import annotations

import datetime
import random

SOURCES = ("topcv_jobs", "jobsgo_jobs")
BASE_DAY = datetime.date(2025, 3, 1)

TITLES = (
    "Lập trình viên Python", "Kỹ sư dữ liệu", "Nhân viên kinh doanh",
    "Kế toán tổng hợp", "Chuyên viên tuyển dụng", "Trưởng nhóm marketing",
    "Kiểm thử phần mềm", "Thiết kế đồ họa", "Quản lý dự án",
    "Chăm sóc khách hàng", "Data Engineer", "Backend Developer",
)
COMPANY_STEMS = ("Công ty TNHH", "Tập đoàn", "Ngân hàng", "Công ty Cổ phần", "Startup")
CITIES = ("Hà Nội", "Hồ Chí Minh", "Đà Nẵng", "Hải Phòng", "Cần Thơ", "Bình Dương", "Đồng Nai")
EXPERIENCE = ("Không yêu cầu", "1 năm", "2 năm", "3 năm", "5 năm", "Trên 5 năm")
TAGS = ("python", "sql", "spark", "excel", "sales", "english", "remote", "fulltime")

# daily churn, as shares of the previous day's live listings per source
CHANGE, NEW, GONE = 0.10, 0.05, 0.05


def _salary(rng: random.Random) -> str:
    k = rng.random()
    if k < 0.08:
        return "Thỏa thuận"
    if k < 0.12:
        return ""
    if k < 0.20:
        return f"Tới {rng.randint(8, 40)} triệu"
    if k < 0.28:
        return f"Trên {rng.randint(10, 50)} triệu"
    if k < 0.33:
        lo = rng.randint(5, 30) * 100
        return f"{lo // 1000},{lo % 1000:03d} - {(lo + 600) // 1000},{(lo + 600) % 1000:03d} USD"
    lo = rng.randint(5, 40)
    return f"{lo} - {lo + rng.randint(2, 10)} triệu"


class JobFeed:
    """Day `d` (0, 1, 2, ...) of the feed for both sources.

    Each listing keeps a fixed posting day; its posted_time string is
    emitted relative to the extraction day ("N ngày trước"), so the
    resolved posting date is stable across days. Every day after the
    first, per source: 5% of live listings disappear, 10% of the rest
    change one SCD2 compare column to a value that differs under the
    warehouse's case/accent-insensitive compare, and 5% are new.
    """

    def __init__(self, seed: int, per_source: int):
        self.seed = seed
        self.per_source = per_source
        self.live: dict[str, dict[str, dict]] = {s: {} for s in SOURCES}
        self.next_id = 0
        self.day = -1
        self.expected: dict[int, dict[str, int]] = {}

    def _new_listing(self, rng: random.Random, source: str, day: int) -> dict:
        n = self.next_id
        self.next_id += 1
        comp = rng.choices(range(200), weights=[1.0 / (i + 1) for i in range(200)])[0]
        return {
            "job_id": f"{source[:2]}{n:07d}",
            "job_title": f"{rng.choice(TITLES)} {n}",
            "company_name": f"{COMPANY_STEMS[comp % len(COMPANY_STEMS)]} {comp}",
            "salary": _salary(rng),
            "location": rng.choice(CITIES),
            "experience_required": rng.choice(EXPERIENCE),
            "job_type": rng.choice(("Toàn thời gian", "Bán thời gian")) if source == "jobsgo_jobs" else "",
            "posted_day": day - rng.randint(0, 20),
            "tags": ",".join(rng.sample(TAGS, 3)),
            "job_url": f"https://{source.split('_')[0]}.vn/viec-lam/{n}",
            "company_logo": f"https://cdn.example.vn/logo/{comp}.png",
        }

    @staticmethod
    def _change(rng: random.Random, listing: dict) -> None:
        col = rng.choice(("salary", "location", "experience_required", "job_url"))
        if col == "salary":
            lo = rng.randint(5, 40)
            new = f"{lo} - {lo + rng.randint(11, 20)} triệu"  # span > 10: never a prior value
            while new == listing["salary"]:
                new = f"{lo} - {lo + 21} triệu"
            listing["salary"] = new
        elif col == "location":
            listing["location"] = rng.choice([c for c in CITIES if c != listing["location"]])
        elif col == "experience_required":
            listing["experience_required"] = rng.choice(
                [e for e in EXPERIENCE if e != listing["experience_required"]]
            )
        else:
            base, _, v = listing["job_url"].partition("?v=")
            listing["job_url"] = f"{base}?v={int(v or 0) + 1}"

    @staticmethod
    def _posted(delta: int) -> str:
        if delta == 0:
            return "hôm nay"
        if delta == 1:
            return "hôm qua"
        return f"{delta} ngày trước"

    def next_day(self) -> tuple[datetime.date, dict[str, list[dict]]]:
        """Advance one day; returns (date, source -> bronze rows)."""
        self.day += 1
        d = self.day
        rng = random.Random(f"{self.seed}:jobs:{d}")
        changed = new = 0
        for source in SOURCES:
            live = self.live[source]
            if d == 0:
                for _ in range(self.per_source):
                    li = self._new_listing(rng, source, d)
                    live[li["job_id"]] = li
                new += self.per_source
                continue
            ids = sorted(live)
            for jid in rng.sample(ids, int(len(ids) * GONE)):
                del live[jid]
            ids = sorted(live)
            for jid in rng.sample(ids, int(len(ids) * CHANGE)):
                self._change(rng, live[jid])
                changed += 1
            for _ in range(int(self.per_source * NEW)):
                li = self._new_listing(rng, source, d)
                li["posted_day"] = d - rng.randint(0, 1)
                live[li["job_id"]] = li
                new += 1
        self.expected[d] = {"expired_today": changed, "inserted_today": changed + new}
        date = BASE_DAY + datetime.timedelta(days=d)
        rows = {}
        for source in SOURCES:
            rows[source] = [
                {
                    "source_id": source,
                    **{k: v for k, v in li.items() if k != "posted_day"},
                    "posted_time": self._posted(d - li["posted_day"]),
                    "extracted_date": date.isoformat(),
                    "extracted_timestamp": f"{date.isoformat()} 02:00:00",
                }
                for _, li in sorted(self.live[source].items())
            ]
        return date, rows


class CorpusGen:
    """Batches of documents for the corpus-prep pipeline.

    Planted, as shares of a batch: 5% exact duplicates of an earlier doc
    in the same batch, 10% carrying one of a few shared 40-token
    boilerplate spans, 3% carrying a 16-token span copied from the
    seeded benchmark suite, and 2% gibberish docs of random tokens.
    """

    DUP, BOILER, CONTAM, GIBBERISH = 0.05, 0.10, 0.03, 0.02
    N_SOURCES = 20

    def __init__(self, seed: int, vocab: dict[str, list[str]], docs_per_batch: int):
        self.seed = seed
        self.vocab = {k: sorted(v) for k, v in sorted(vocab.items())}
        self.langs = sorted(self.vocab)
        self.docs_per_batch = docs_per_batch
        rng = random.Random(f"{seed}:corpus:fixed")
        self.boilerplate = [self._words(rng, "en", 40) for _ in range(5)]
        self.benchmark = [
            {"doc_id": i, "text": " ".join(self._words(rng, rng.choice(self.langs), 60))}
            for i in range(200)
        ]

    def _words(self, rng: random.Random, lang: str, n: int) -> list[str]:
        v = self.vocab[lang]
        return rng.choices(v, weights=[1.0 / (i + 1) ** 0.8 for i in range(len(v))], k=n)

    def batch(self, b: int) -> tuple[list[dict], dict]:
        """Batch `b` as document rows plus what was planted in it."""
        rng = random.Random(f"{self.seed}:corpus:{b}")
        docs: list[dict] = []
        planted = {"dup_groups": {}, "contaminated": [], "boilerplate": [], "gibberish": []}
        for i in range(self.docs_per_batch):
            doc_id = b * 1_000_000 + i
            lang = rng.choice(self.langs)
            k = rng.random()
            if docs and k < self.DUP:
                src = rng.choice(docs)
                text = src["text"]
                planted["dup_groups"].setdefault(text, [src["doc_id"]]).append(doc_id)
            elif k < self.DUP + self.GIBBERISH:
                # random consonant runs, with enough stopwords to pass the
                # quality gate, so only the surprisal stage can drop them
                text = " ".join(
                    "the" if j % 10 == 0 else
                    "".join(rng.choices("bcdfghjklmnpqrstvwxz", k=rng.randint(4, 9)))
                    for j in range(rng.randint(40, 120))
                )
                planted["gibberish"].append(doc_id)
            else:
                words = self._words(rng, lang, rng.randint(40, 240))
                if k < self.DUP + self.GIBBERISH + self.BOILER:
                    at = rng.randint(0, len(words))
                    words[at:at] = rng.choice(self.boilerplate)
                    planted["boilerplate"].append(doc_id)
                elif k < self.DUP + self.GIBBERISH + self.BOILER + self.CONTAM:
                    bench = rng.choice(self.benchmark)["text"].split()
                    s = rng.randint(0, len(bench) - 16)
                    at = rng.randint(0, len(words))
                    words[at:at] = bench[s : s + 16]
                    planted["contaminated"].append(doc_id)
                text = " ".join(words)
            docs.append({
                "doc_id": doc_id,
                "text": text,
                "lang": lang,
                "source": f"src{rng.randrange(self.N_SOURCES)}",
                "n_chars": len(text),
            })
        return docs, planted


def fixture_vocab(documents_parquet: str) -> dict[str, list[str]]:
    """Per-language word sets of a `documents` table."""
    import pyarrow.parquet as pq

    vocab: dict[str, set[str]] = {}
    for row in pq.read_table(documents_parquet, columns=["text", "lang"]).to_pylist():
        vocab.setdefault(row["lang"], set()).update(row["text"].split())
    return {k: sorted(v) for k, v in vocab.items()}
