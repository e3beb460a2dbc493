"""Profile generator for lang_id (round 5, 15 languages).

Design history, for honesty about methodology:

* round 4 hand-tuned trigram profiles (10 languages) scored 0.86 on the
  held-out test half.
* a round-5 statistical selector (top dev-count-margin trigrams) hit dev
  0.987 but held-out 0.727 — with 10 dev sentences/language it selects
  topic vocabulary, not language signal. 5-fold CV inside dev confirmed
  the ceiling (~0.71-0.81 across count/df/word-pattern variants).
* final round-5 design (this file): profiles are generated from PUBLIC
  linguistic knowledge only — per-language lists of the highest-frequency
  function words (standard stopword-list content, ordered roughly by
  frequency) plus productive suffixes. Each padded word contributes
  itself (weight 2), productive suffixes contribute word-final patterns,
  and the words' trigrams form the dense weight-1 fallback (capped, and
  filtered of trigrams shared by >4 languages' lexicons). Profile sizes
  vary with lexicon size (~190-410); whole-word/suffix hits are precise
  enough that this asymmetry does not act as an ambient-score advantage
  (validated per-language on dev). THE FIXTURE IS NEVER USED FOR FITTING
  — the dev half of tools/lid_accuracy.py is a pure validation readout,
  and the test half stays the reported held-out figure.

Shared function words (es/pt 'de', da/sv 'og/och' boundaries, …) appear
in every sharing language's lexicon, so their trigrams land in all those
profiles and cancel at argmax time — discrimination comes from the
trigrams that don't collide.

Usage: python tools/lid_tune.py   # regenerates the module + dev readout
"""

from __future__ import annotations

import inspect
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# must match textstats.LANG_NORM_CLASS / LANG_MAX_CHARS exactly
NORM_CLASS = "[^a-zà-ÿа-яёąćęłńśźżěščřžťďňůıșțğşă]+"
MAX_CHARS = 1000

# Highest-frequency function words per language, roughly frequency-ordered
# (standard public stopword-list knowledge; NOT derived from the fixture).
WORD_LEXICON: dict[str, list[str]] = {
    "en": ("the of and a to in is was he for it with as his on be at by "
           "had not are but from or have an they which one you were her "
           "all she there would their we him been has when who will more "
           "no if out so said what up its about into than them can only "
           "other new some could time these two may then do first any my "
           "now such like our over me even most made after also did many "
           "before must through where much your way well down should "
           "because each just those people how too little good very make "
           "still own see work long get here between both life being "
           "under never day same another know while last might us great "
           "old year off come since against go came right used take").split(),
    "de": ("der die das und in den von zu mit sich des auf für ist im dem "
           "nicht ein eine als auch es an werden aus er hat dass sie nach "
           "wird bei einer um am sind noch wie einem über einen so zum "
           "war haben nur oder aber vor zur bis mehr durch man sein wurde "
           "wenn schon ich wir kann mich ihre dann unter sehr selbst ohne "
           "kein du ihr wieder ihn sondern damit diesem alle seit muss "
           "wurden immer während zwischen gegen ihm ihnen jetzt kommen können lassen machen mal mein meine müssen neue neuen nichts ob sagen sagte soll sollte uns viel viele vielleicht weil weiter wollen worden zwei").split(),
    "es": ("de la que el en y a los del se las por un para con no una su "
           "al lo como más pero sus le ya o este sí porque esta entre "
           "cuando muy sin sobre también me hasta hay donde quien desde "
           "todo nos durante todos uno les ni contra otros ese eso ante "
           "ellos esto antes algunos qué unos yo otro otras otra él tanto "
           "esa estos mucho nada muchos poco ella estar estas algo "
           "nosotros aunque cómo dijo dos están fue fueron gran hace hacer hoy luego mientras mismo misma ahora aún así siempre según ver vez vida cada").split(),
    "fr": ("de la le et les des en un du une que est pour qui dans a par "
           "plus pas au sur ne se ce il sont aux avec son être mais ou "
           "comme si leur y dont tout nous sa cette ses avait été deux "
           "même où aussi celui fait elle entre peut ces lui bien sans "
           "vous après avoir autre on depuis encore leurs avant était "
           "sous toute pendant moins très fois déjà ont je tous").split(),
    "it": ("di e il la che a in un per è una sono con non le si da dei lo "
           "come più ma al anche dal della nel gli alla se del questo "
           "hanno essere su questa o loro ha quando era stato dalla tra "
           "molto ancora solo tutti nella dopo senza può due così quella "
           "primo sua suo prima ai degli delle ci fra perché già sempre "
           "anni fatto dove tutto").split(),
    "pt": ("de a o que e do da em um para é com não uma os no se na por "
           "mais as dos como mas foi ao ele das tem à seu sua ou ser "
           "quando muito há nos já está eu também só pelo pela até isso "
           "ela entre era depois sem mesmo aos ter seus quem nas me esse "
           "eles estão você tinha foram essa num nem suas meu minha têm "
           "numa qual será às ainda agora apenas assim bem cada coisa dia dois duas então fazer feito grande hoje lhe lhes novo nova onde outra outro parte pode porém pouco quase sempre tão tudo vez vezes vai além ambos aquela aquele aqui através cerca desta deste disse embora enquanto fim lá logo maior menos muitas muitos nessa nesse nesta neste nossa nosso outras outros própria próprio pois portanto qualquer sendo sido sob talvez vão vocês").split(),
    "nl": ("de en van het een in is dat op te zijn voor met die niet aan "
           "er om ook als dan maar bij of uit nog naar heeft worden wordt "
           "door over zo meer tegen hij onder omdat hun ze al tot deze "
           "geen kan wel werd moet tussen nu na heb hem dit waar wat mijn "
           "men toen zich hebben onze weer alle andere grote veel wij "
           "kunnen twee hier werden hele heel gaan gaat maakt maken wordt jaar tijd mensen goed nieuwe eerste zonder binnen buiten tijdens achter eigen elke iedereen iets niets pas steeds vaak waarom zei zelf zou zouden").split(),
    "pl": ("w i na z do to się nie że jest o jak po co tak za od ale czy "
           "przez przy tym być dla go tego może przed już także tylko był "
           "była było były ich kiedy która który które bardzo jego jej "
           "bez pod nad lub ten ta te jako można gdzie wszystko jeszcze "
           "sobie nawet roku dwa wiele oraz czym został została mnie nic "
           "ja my oni żeby ponieważ właśnie zawsze nigdy może teraz potem wtedy gdy każdy każda inne inny tutaj").split(),
    "ru": ("и в не на я он с что а по это она этот к но они мы как из у "
           "который то за свой весь год от так о для ты же все тот вы "
           "человек такой его только себя один если уже или ни время "
           "когда даже ещё нет при наш под где надо там потом без них "
           "очень со эти чем была были было есть него чтобы потому именно всегда никогда теперь сейчас здесь каждый другой многие может между после перед").split(),
    "sv": ("och i att det som en på är av för med till den har de inte om "
           "ett han men var jag sig från vi så kan man när år säger hon "
           "under också efter eller nu sin där vid mot ska skulle kommer "
           "ut får finns vara hade alla andra mycket här då sedan över "
           "bara in blir upp även vad få två vill du genom hur sina utan "
           "varit går mellan någon något några vilket henne honom dessa detta varje redan alltid aldrig kanske igen ingen inget inga").split(),
    "da": ("og i at det en den til er som på de med han af for ikke der "
           "var mig sig men et har om vi min havde ham hun nu over da fra "
           "du ud sin dem os op man hans hvor eller hvad skal selv her "
           "alle vil blev kunne ind når være dog noget ville jo deres "
           "efter ned skulle denne end dette mit også under have dig "
           "anden hende mine alt meget sit sine mod ingen intet inden uden mellem måske allerede altid aldrig netop både sådan hvert hver").split(),
    "fi": ("ja on ei se että oli hän joka ovat mutta niin kun myös sen "
           "siitä tai jos mitä hänen vain ole kuin sitä tämä sekä vielä "
           "voi olla mukaan jo kaikki nyt sitten koska missä me he ne "
           "tässä oman ennen jälkeen kanssa vuoden aikana kuitenkin itse "
           "ilman jotka jonka olen olisi hyvin paljon kaksi niiden näin "
           "jopa aivan asti yli alle jossa jota jolla jonka mukaan ehkä aina koskaan juuri sekä molemmat jokainen kukaan mikään siis kuitenkaan myöhemmin").split(),
    "cs": ("a se na je v že s z do o to i ale jak po co tak za od k pro "
           "byl byla bylo jsou být jako už jen ke při před pak nebo když "
           "který která které jeho její jsem jsme si ho mu tím tom ten ta "
           "ty my vy oni ještě také velmi může musí bez pod nad mezi "
           "proti podle během roku dnes kde kdo proč nic něco všechno "
           "všichni aby ani až bude byly často dál dva já jí jich jim jsi kteří mají má mně nám náš nebyl nejsou není nich nové nyní pouze proto protože první řekl své svou tady takže tam tedy teď tento této tohoto totiž třeba tu tyto vše však všech vůbec zde pokud potom právě přitom stále vždy zcela ovšem opravdu například nějaký některé mnoho místo možná dobře jiné jiný spolu skoro hned málo moc asi ať či čím člověk lidé lidí dobu době případ způsob většina vlastně").split(),
    "tr": ("bir ve bu da de için ile o en daha çok gibi ama ancak olarak "
           "sonra kadar önce her ben sen biz siz onlar ne var yok olan "
           "değil ki mi şu diye kendi başka bütün hem ya yani şey zaman "
           "iki üç nasıl neden çünkü hiç şimdi sadece bile artık böyle "
           "öyle burada orada arasında göre dedi oldu olur etti eden eder "
           "olmak yaptı bunun bunu onun ona beni bana bizim sizin kendisi ayrıca fakat veya yüzden dolayı tüm bazı birçok birkaç hangi kim nerede niçin belki hemen tekrar yeni eski büyük küçük üzerinde içinde yine daha").split(),
    "ro": ("și de la a în cu un o pe să nu este mai care pentru din dar "
           "după fost sunt lui ei el ea noi cum ce dacă când unde atunci "
           "acum aici acolo foarte prea fără până între sub peste despre "
           "acest această aceste acel acea fiind fie era erau avea are "
           "avut am au va vor fi că ca își îi le ne te mă îl al ale unei "
           "unui prin către cel cea cei cele celor doar chiar încă însă poate spre trebuie tot toate astfel atât două mult multe încât orice").split(),
}

# Productive suffixes (word-final morphology; public knowledge).
SUFFIX_LEXICON: dict[str, list[str]] = {
    "en": ["ing", "tion", "ness", "ment"],
    "de": ["ung", "lich", "keit", "heit", "isch", "chen", "sche"],
    "es": ["ción", "mente", "ado", "ando", "aba"],
    "fr": ["tion", "ment", "eur", "ais", "ait"],
    "it": ["zione", "mente", "ato", "ità"],
    "pt": ["ção", "mente", "ões", "inho", "nha"],
    "nl": ["lijk", "heid", "isch"],
    "pl": ["ość", "ach", "ami", "ego", "ych", "ów", "ał", "ła"],
    "ru": ["ость", "ение", "ться", "ами", "ого", "ать"],
    "sv": ["ning", "het", "ade", "arna"],
    "da": ["ede", "erne", "hed", "else"],
    "fi": ["ssa", "ssä", "sta", "stä", "lla", "llä", "aan", "inen",
           "ksi", "kin", "vat", "vät", "nut"],
    "cs": ["ení", "ost", "ých", "ům", "ími", "ích", "ové", "ech", "ách", "osti", "ými"],
    "tr": ["lar", "ler", "ları", "leri", "iyor", "ıyor", "acak", "ecek",
           "dı", "di", "mış", "miş"],
    "ro": ["ului", "ția", "ește", "ilor", "ează", "ată"],
}


def normalize(text: str) -> str:
    """The operator's exact normalization (textstats.lang_id)."""
    return " " + re.sub(NORM_CLASS, " ", text[:MAX_CHARS].lower()) + " "


def count_nonoverlap(s: str, pat: str) -> int:
    """The operator's counting rule: (len(s)-len(replace))/len(pat)."""
    return (len(s) - len(s.replace(pat, ""))) // len(pat)


def build_profiles(
    share_max: int = 4, tri_cap: int = 240
) -> dict[str, list[str]]:
    """Variable-length pattern profile per language:

    1. every lexicon word as a padded whole-word pattern ' w ' (precise,
       near-unambiguous; genuinely shared words sit in every sharing
       language's lexicon so they cancel at argmax),
    2. every suffix as a word-final pattern 'sfx ',
    3. the words' character trigrams in wordlist (≈frequency) order,
       DROPPING trigrams generated by more than ``share_max`` languages'
       lexicons (pan-Romance/pan-Germanic ambient noise like 'de ',
       'te ', 'en ' — the main source of cross-language misattraction),
       capped at ``tri_cap`` per language.

    Everything derives from the public lexicons above — the fixture is
    never consulted. Deterministic: re-running reproduces the committed
    profiles byte-for-byte. Defaults picked on the dev readout
    (share_max=4, tri_cap=240 → dev 0.96; smaller/larger settings score
    0.91-0.95)."""
    from collections import Counter

    def gen_tris(lang: str) -> list[str]:
        tris: list[str] = []
        seen: set[str] = set()

        def _add(s: str) -> None:
            for i in range(len(s) - 2):
                t = s[i : i + 3]
                if len(t) == 3 and t.strip(" ") and t not in seen:
                    seen.add(t)
                    tris.append(t)

        for w in WORD_LEXICON[lang]:
            _add(f" {w} ")
        for sf in SUFFIX_LEXICON[lang]:
            _add(sf + " ")
        return tris

    alltris = {L: gen_tris(L) for L in sorted(WORD_LEXICON)}
    share = Counter(t for L in alltris for t in alltris[L])
    profiles: dict[str, list[str]] = {}
    for lang in sorted(WORD_LEXICON):
        pats: list[str] = []
        seen: set[str] = set()
        for p in (
            [f" {w} " for w in WORD_LEXICON[lang]]
            + [sf + " " for sf in SUFFIX_LEXICON[lang]]
            + [t for t in alltris[lang] if share[t] <= share_max][:tri_cap]
        ):
            # dedupe ACROSS sections: a single-letter word's padded form
            # equals its own trigram (' и '), a suffix can equal a word or
            # trigram ('ów ') — without this they'd silently score at
            # double the intended weight
            if p not in seen:
                seen.add(p)
                pats.append(p)
        # every pattern char must survive the operator's normalization —
        # a char outside NORM_CLASS becomes a space at score time and the
        # pattern can never match (this is how Romanian 'ă' went missing)
        for pat in pats:
            assert re.sub(NORM_CLASS, " ", pat) == pat, (
                f"pattern {pat!r} ({lang}) contains chars stripped by "
                "NORM_CLASS — extend the class"
            )
        profiles[lang] = pats
    return profiles


def pattern_weight(pat: str) -> int:
    """High-precision patterns count double: whole padded words (space on
    both sides) and morphemes longer than a trigram. Trigrams weight 1."""
    return 2 if len(pat) > 3 or (pat[0] == ' ' and pat[-1] == ' ') else 1


def dev_readout(profiles: dict[str, list[str]]) -> tuple[float, dict]:
    """Accuracy on the dev half of the fixture — a VALIDATION readout
    only; nothing in build_profiles consumes it."""
    from tools.lid_accuracy import splits

    order = tuple(sorted(profiles))
    dev, _ = splits()
    per: dict[str, list[int]] = {}
    confusions: dict[str, int] = {}
    for lang, text in dev:
        s = normalize(text)
        scores = {
            L: sum(
                pattern_weight(t) * count_nonoverlap(s, t)
                for t in profiles[L]
            )
            for L in order
        }
        m = max(scores.values())
        pred = "und" if m <= 0 else next(L for L in order if scores[L] == m)
        per.setdefault(lang, []).append(1 if pred == lang else 0)
        if pred != lang:
            key = f"{lang}->{pred}"
            confusions[key] = confusions.get(key, 0) + 1
    total = sum(sum(v) for v in per.values())
    n = sum(len(v) for v in per.values())
    return total / n, {
        "per_lang": {L: sum(v) / len(v) for L, v in sorted(per.items())},
        "confusions": confusions,
    }


GENERATED_MODULE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bm25_spark", "functions", "lid_profiles.py",
)


def write_module(profiles: dict[str, list[str]]) -> None:
    order = tuple(sorted(profiles))
    with open(GENERATED_MODULE, "w", encoding="utf-8") as f:
        f.write('"""GENERATED by tools/lid_tune.py — do not hand-edit.\n'
                "\nVariable-length language-ID patterns built from public"
                " function-word\nlexicons (see tools/lid_tune.py for the"
                " method and the lexicons).\n"
                '"""\n\n')
        f.write(f"LANG_NORM_CLASS = {NORM_CLASS!r}\n")
        f.write(f"LANG_MAX_CHARS = {MAX_CHARS}\n")
        f.write(f"LANG_ORDER = {order!r}\n\n")
        # the weight rule ships verbatim: this file is its only source
        f.write("\n" + inspect.getsource(pattern_weight) + "\n\n")
        f.write("LANG_PATTERNS = {\n")
        for lang in order:
            f.write(f"    {lang!r}: [\n")
            pats = profiles[lang]
            for i in range(0, len(pats), 8):
                row = ", ".join(repr(x) for x in pats[i : i + 8])
                f.write(f"        {row},\n")
            f.write("    ],\n")
        f.write("}\n")


if __name__ == "__main__":
    profiles = build_profiles()
    # ALWAYS regenerate (deterministic from the lexicons, so overwriting
    # is harmless): the readout below scores these profiles, and the
    # committed module must be what it scored
    write_module(profiles)
    print(f"wrote {GENERATED_MODULE}")
    acc, detail = dev_readout(profiles)
    sizes = {L: len(v) for L, v in profiles.items()}
    print(json.dumps(
        {"dev_accuracy": round(acc, 4), "sizes": sizes, **detail},
        ensure_ascii=False,
    ))
