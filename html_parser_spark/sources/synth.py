"""Deterministic synthetic Common-Crawl-style pages corpus (FIXTURES.md).

One renderer per reference carrier profile (FIXTURES.md §2): each embeds the
same canonical product payload the way the real site does, so every
extraction operator in SURVEY.md §2 is exercised. Golden envelopes are
computed **directly from the payload** (never by parsing), making the
pipeline test a true round-trip: payload → html → tokenizer/rules → envelope
must equal payload → golden.

Determinism: ``random.Random(f"42:{idx}")`` — stable across processes and
PYTHONHASHSEED (str seeds go through sha512). No wall-clock anywhere.
"""

from __future__ import annotations

import base64
import json
import random
import zlib
from datetime import datetime, timedelta, timezone
from typing import Optional

__all__ = [
    "PROFILES", "DETAIL_PROFILES", "SERP_PROFILES",
    "payload_for", "profile_for", "url_for", "render_page", "page_record",
    "golden_envelope", "EPOCH",
]

SEED = 42
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

DETAIL_PROFILES = [
    "nextdata-detail",      # walmart/parse_walmart-2.py (__NEXT_DATA__ path)
    "redux-detail",         # 1.samsclub/parse_samsclub.py
    "nextprops-detail",     # bedbathbeyond/parse_bedbathbeyond.py
    "inline-js-detail",     # costco/parse_costco.py
    "pixels-detail",        # overstock/parse_overstock.py
    "escaped-component-detail",  # bestbuy/parse_bestbuy_detai.py
    "webpack-detail",       # prev/parse_wayfair.py
    "discover-detail",      # prev/parse_tesco_html.py
    "ldjson-detail",        # walmart/parse_walmart-2.py (ld+json path)
]
SERP_PROFILES = [
    "nextdata-serp",        # walmart/parse_walmart.py
    "css-serp",             # prev/parse_mercado.py
    "webpack-serp",         # prev/parse_wayfair_category.py
    "apijson-serp",         # homedepot/parse_homedepot_json.py (raw JSON body)
]
PROFILES = DETAIL_PROFILES + SERP_PROFILES

_SITES = {
    "nextdata-detail": "walmarket",
    "redux-detail": "samsdepot",
    "nextprops-detail": "bedbath",
    "inline-js-detail": "costgo",
    "pixels-detail": "overrock",
    "escaped-component-detail": "bestbuyer",
    "webpack-detail": "wayflair",
    "discover-detail": "tesgo",
    "ldjson-detail": "walmarty",
    "nextdata-serp": "walmarket-search",
    "css-serp": "mercadolibro",
    "webpack-serp": "wayflair-browse",
    "apijson-serp": "homestation",
}

_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]

_ADJ = ["Compact", "Deluxe", "Classic", "Ultra", "Smart", "Eco", "Pro",
        "Premium", "Portable", "Heavy-Duty", "Wireless", "Ergonomic"]
_NOUN = ["Blender", "Headphones", "Desk Lamp", "Air Fryer", "Monitor",
         "Backpack", "Coffee Maker", "Vacuum", "Keyboard", "Space Heater",
         "Toaster", "Office Chair"]
_BRANDS = ["Acmetek", "Nordway", "Zenbright", "Kitchor", "Veltron",
           "Homecrest", "Lumina", "Duraflex"]
_CATS = ["Home", "Kitchen", "Electronics", "Office", "Appliances",
         "Furniture", "Outdoors"]
_SPEC_KEYS = ["Color", "Material", "Weight", "Width", "Height", "Model",
              "Warranty", "Voltage", "Capacity", "Country of Origin"]
_WORDS = ("quality durable modern design value performance comfort power "
          "style storage easy clean quiet fast strong light bright safe "
          "family everyday premium tested trusted").split()


def _rng(idx: int) -> random.Random:
    return random.Random(f"{SEED}:{idx}")


def _h(idx: int, tag: str, mod: int) -> int:
    """Deterministic draw in [0, mod) from md5 — SQL-replayable, unlike
    random.Random: DuckDB recomputes it as
    ``('0x' || substring(md5('{SEED}:' || i || ':tag'), 1, 8))::BIGINT
    % mod``, which lets the driver's extract_pages oracle replay the
    content surface (name/brand/price) value-exactly."""
    import hashlib
    return int(hashlib.md5(
        f"{SEED}:{idx}:{tag}".encode()).hexdigest()[:8], 16) % mod


def profile_for(idx: int) -> str:
    """Profile assignment incl. the pdf / error special rows.

    ~2% PDF payloads, ~2% malformed/blocked pages (FIXTURES.md §1), rest
    round-robins over the 10 carrier profiles.
    """
    if idx % 50 == 48:
        return "pdf"
    if idx % 50 == 49:
        return "error"
    return PROFILES[idx % len(PROFILES)]


def _sentence(r: random.Random, n: int) -> str:
    ws = [r.choice(_WORDS) for _ in range(n)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def payload_for(idx: int) -> dict:
    """Canonical product payload — the single source of truth per page."""
    r = _rng(idx)
    pid = 100000 + idx
    # name/brand/price ride md5(idx) arithmetic (not the RNG) so the
    # driver's extract_pages DuckDB oracle can replay them (VERDICT r2
    # task 6); the long-tail fields below stay on the seeded RNG.
    name = (f"{_ADJ[_h(idx, 'adj', len(_ADJ))]} "
            f"{_NOUN[_h(idx, 'noun', len(_NOUN))]} "
            f"{100 + _h(idx, 'num', 900)}")
    brand = _BRANDS[_h(idx, "brand", len(_BRANDS))]
    price_cents = 499 + _h(idx, "price", 129501)
    list_cents = price_cents + _h(idx, "list", 40001)
    rating_milli = r.randint(1000, 5000)
    total_ratings = r.randint(0, 4000)
    total_reviews = r.randint(0, total_ratings) if total_ratings else 0
    n_images = r.randint(1, 6)
    images = [
        f"https://img.{_SITES.get(profile_for(idx), 'docs').split('-')[0]}.example.com/p/{pid}/{k}.jpg"
        for k in range(n_images)
    ]
    cats = r.sample(_CATS, r.randint(1, 3))
    specs = [
        {"name": k, "value": f"{r.choice(_WORDS)}-{r.randint(1, 99)}"}
        for k in r.sample(_SPEC_KEYS, r.randint(2, 5))
    ]
    variants = [
        {"type": "Color", "value": v, "available": bool(r.getrandbits(1))}
        for v in r.sample(["Black", "White", "Red", "Blue", "Silver"],
                          r.randint(1, 3))
    ]
    features = [_sentence(r, r.randint(3, 6)) for _ in range(r.randint(2, 4))]
    description = " ".join(_sentence(r, r.randint(6, 12)) for _ in range(2))
    # Rating histogram (bedbathbeyond weighted-mean path, T18/R6).
    hist = {str(s): r.randint(0, 50) for s in range(1, 6)}
    return {
        "product_id": str(pid),
        "name": name,
        "brand": brand,
        "price": price_cents / 100.0,
        "list_price": list_cents / 100.0,
        "currency": "USD",
        "currency_symbol": "$",
        "rating": rating_milli / 1000.0,
        "total_ratings": total_ratings,
        "total_reviews": total_reviews,
        "description": description,
        "features": features,
        "images": images,
        "categories": cats,
        "specifications": specs,
        "variants": variants,
        "in_stock": price_cents % 7 != 0,
        "rating_hist": hist,
    }


def url_for(idx: int) -> str:
    profile = profile_for(idx)
    site = _SITES.get(profile, "docs")
    if profile == "pdf":
        return f"https://files.example.com/docs/report-{idx}.pdf"
    if profile == "error":
        return f"https://blocked.example.com/item/{idx}"
    slug = f"item-{100000 + idx}"
    if profile == "escaped-component-detail":
        # bestbuy URL shape: the reference derives product_id from the
        # requested url via r"\/(\d+).p" (parse_bestbuy_detai.py:56).
        return (f"https://www.{site}.example.com/site/{slug}/"
                f"{100000 + idx}.p?skuId={100000 + idx}")
    return f"https://www.{site}.example.com/{_CATS[idx % len(_CATS)].lower()}/{slug}/{100000 + idx}"


# --------------------------------------------------------------------------
# Shared page chrome (gives the boilerplate scorer something to strip).
# --------------------------------------------------------------------------

def _chrome_head(title: str, extra: str = "") -> str:
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>{title}</title>"
        '<meta charset="utf-8">'
        f"{extra}"
        "<style>.nav{color:#333}</style>"
        "</head><body>"
        '<nav class="topnav"><ul>'
        '<li><a href="/">Home</a></li><li><a href="/deals">Deals</a></li>'
        '<li><a href="/account">Account</a></li><li><a href="/cart">Cart</a></li>'
        "</ul></nav>"
    )


_FOOTER = (
    '<footer><div class="links">'
    '<a href="/about">About Us</a> <a href="/careers">Careers</a> '
    '<a href="/privacy">Privacy Policy</a> <a href="/terms">Terms of Use</a>'
    "</div><p>© 2025 Example Retail Group. All rights reserved.</p>"
    "</footer></body></html>"
)


def _main_block(p: dict) -> str:
    """Visible product section — the 'main content' for text extraction."""
    feats = "".join(f"<li>{f}</li>" for f in p["features"])
    specs = "".join(
        f"<tr><td>{s['name']}</td><td>{s['value']}</td></tr>"
        for s in p["specifications"]
    )
    return (
        '<main><article class="product-main">'
        f"<h1>{p['name']}</h1>"
        f'<div class="brand">by {p["brand"]}</div>'
        f'<span class="price">${p["price"]:.2f}</span>'
        f'<div class="description"><p>{p["description"]}</p></div>'
        f'<h2>Features</h2><ul class="features">{feats}</ul>'
        f"<h2>Specifications</h2><table>{specs}</table>"
        "</article></main>"
    )


# --------------------------------------------------------------------------
# Per-profile renderers
# --------------------------------------------------------------------------

def _w2_delivery_date(p: dict) -> str:
    pid = int(p["product_id"])
    return f"2025-{pid % 9 + 1:02d}-{pid % 28 + 1:02d}T10:00:00.000Z"


def _w2_idml(p: dict) -> dict:
    """walmart-2 idml blob shared by renderer and golden: exercises T2
    (snake rename), T3 (key drop), T17 (nutrition restructure) and the
    longDescription ul fragment (key_features)."""
    pid = int(p["product_id"])
    idml = {
        "specifications": p["specifications"],
        "shortDescription": p["description"],
        "longDescription": "<ul>" + "".join(
            f"<li>{f}</li>" for f in p["features"]) + "</ul>",
        "productHighlights": [
            {"name": f, "iconURL": "https://icons.example.com/h.png"}
            for f in p["features"][:2]
        ],
        "arExperience": {"modelUrl": "drop-me"},        # T3 victim
        "sizeChart": {"url": "drop-me-too"},            # T3 victim
        "warrantyInfo": f"{pid % 5 + 1} year limited",  # T2 → warranty_info
    }
    if pid % 3 == 0:
        idml["nutritionFacts"] = {
            "calorieInfo": {"mainNutrient": {"name": "Calories",
                                             "amount": str(100 + pid % 400)}},
            "keyNutrients": {"children": [
                {"nutrientName": "TotalFat", "amountPerServing": f"{pid % 30}g"}]},
            "servingInfo": {"servingsPerContainer": str(pid % 8 + 1),
                            "servingSize": "1 cup"},
            "vitaminMinerals": None,
            "additionalDisclaimer": None,
            "staticContent": None,
        }
    return idml


def _render_nextdata_detail(p: dict, url: str) -> str:
    # walmart/parse_walmart-2.py:75-78 shape + ld+json (J1).
    product = {
        "usItemId": p["product_id"],
        "name": p["name"],
        "brand": p["brand"],
        "priceInfo": {
            "currentPrice": {"price": p["price"], "currencyUnit": p["currency"]},
            "wasPrice": {"price": p["list_price"]},
        },
        "averageRating": p["rating"],
        "numberOfReviews": p["total_reviews"],
        "numberOfRatings": p["total_ratings"],
        "imageInfo": {"allImages": [{"url": u} for u in p["images"]]},
        "category": {"path": [
            {"name": c, "url": f"/cp/{c.lower().replace(' ', '-')}"}
            for c in p["categories"]]},
        "shortDescription": p["description"],
        "availabilityStatus": "IN_STOCK" if p["in_stock"] else "OUT_OF_STOCK",
        "variantsMap": {
            v["value"]: {"availabilityStatus": "IN_STOCK" if v["available"] else "OUT_OF_STOCK"}
            for v in p["variants"]
        },
        "sellerName": f"{p['brand']} Official Store",
        "sellerId": f"S{p['product_id']}",
        "fulfillmentSummary": [{"deliveryDate": _w2_delivery_date(p)}],
        "returnPolicy": {"returnPolicyText": "Free 90-day returns"},
    }
    idml = _w2_idml(p)
    next_data = {
        "props": {"pageProps": {"initialData": {"data": {
            "product": product, "idml": idml,
        }}}}
    }
    ld = {
        "@type": "Product", "name": p["name"],
        "brand": {"name": p["brand"]},
        "offers": {"price": p["price"], "priceCurrency": p["currency"]},
    }
    return (
        _chrome_head(p["name"], f'<link rel="canonical" href="{url}">')
        + _main_block(p)
        + f'<script type="application/ld+json">{json.dumps(ld)}</script>'
        + f'<script id="__NEXT_DATA__" type="application/json">{json.dumps(next_data)}</script>'
        + _FOOTER
    )


def _redux_spec_html(p: dict) -> str:
    """Spec fragment exercising X4 (plain kv table), X3 (thead-sectioned
    table with empty-key rows, pid even), and T16 (p/strong props)."""
    pid = int(p["product_id"])
    parts = ["<table><tbody>" + "".join(
        f"<tr><td>{s['name']}</td><td>{s['value']}</td></tr>"
        for s in p["specifications"]
    ) + "</tbody></table>"]
    if pid % 2 == 0:
        parts.append(
            "<table><thead><tr><th>Details</th></tr></thead><tbody>"
            f"<tr><td>Material</td><td>Steel-{pid % 7}</td></tr>"
            "<tr><th>Package Contents</th></tr>"
            f"<tr><td></td><td>Main unit {pid % 5}</td></tr>"
            "<tr><td></td><td>User manual</td></tr>"
            "</tbody></table>")
    parts.append(
        f"<p><strong>Net Volume: </strong>{pid % 40 + 1}.5 Liters</p>")
    return "".join(parts)


def _redux_logistics(p: dict) -> dict:
    pid = int(p["product_id"])
    logi = {
        "weight": {"value": f"{pid % 50 + 1}", "unitOfMeasure": "lbs"},
        "length": {"value": f"{pid % 30 + 2}", "unitOfMeasure": "in"},
        "width": {"value": f"{pid % 20 + 2}", "unitOfMeasure": "in"},
        "height": {"value": f"{pid % 10 + 2}", "unitOfMeasure": "in"},
        "numberOfBoxes": pid % 3 + 1,
        "hazardMaterial": False,
    }
    if pid % 2 == 1:          # all-fields guard: dims string must be None
        del logi["height"]
    return logi


def _redux_variant_summary(p: dict) -> dict:
    """R3 fixture: criteria × infoMap with one phantom criteria value (no
    matching info) and one ghost info (no matching criteria value)."""
    pid = int(p["product_id"])
    vtype = p["variants"][0]["type"] if p["variants"] else "Color"
    values = [{"value": v["value"], "imageUrl": p["images"][k % len(p["images"])]}
              for k, v in enumerate(p["variants"])]
    criteria = [{"name": vtype,
                 "values": values + [{"value": "Phantom", "imageUrl": None}]}]
    info_map = [
        {"variantSkuId": f"SKU{pid}-{k}", "variantItemGroupId": f"G{pid}",
         "values": [{"name": vtype, "value": v["value"]}]}
        for k, v in enumerate(p["variants"])
    ] + [{"variantSkuId": f"SKU{pid}-X", "variantItemGroupId": f"G{pid}",
          "values": [{"name": vtype, "value": "Ghost"}]}]
    return {"variantCriteria": criteria, "variantInfoMap": info_map}


def _render_redux_detail(p: dict, url: str) -> str:
    # 1.samsclub/parse_samsclub.py:214-222 + HTML fragments inside JSON (P3).
    pid = int(p["product_id"])
    short_desc = "<ul>" + "".join(f"<li>{f}</li>" for f in p["features"]) + "</ul>"
    savings = {
        "savingsAmount": round(p["list_price"] - p["price"], 2),
        "memberPromotions": [{"type": "INSTANT"}],
        "householdLimit": 2,
        "startDate": "2025-01-01", "endDate": "2025-12-31",
    } if pid % 4 == 0 else None
    price = {
        "finalPrice": {"amount": p["price"], "currency": p["currency"]},
        "listPrice": {"amount": p["list_price"]},
        "unitPrice": {"amount": round(p["price"] / 4, 2)},
    }
    if savings:
        price["savings"] = savings
    state = {
        "cache": {"products": {p["product_id"]: {
            "productId": p["product_id"],
            "descriptors": {"name": p["name"], "shortDescription": short_desc,
                            "longDescription": p["description"]},
            "manufacturingInfo": {
                "brand": p["brand"],
                "specification": _redux_spec_html(p),
                "model": f"M-{pid}",
                "warranty": "<p>1 year manufacturer warranty</p>",
                "componentCountry": "USA",
                "assembledCountry": "Mexico",
            },
            "skus": [{
                "skuId": f"SKU{pid}",
                "onlineOffer": {
                    "generatedUPC": f"00{pid}7",
                    "gtin": f"0{pid}",
                    "itemNumber": str(pid % 100000),
                    "price": price,
                },
                "skuLogistics": _redux_logistics(p),
                "returnInfo": {
                    "returnLocation": "Club or Online",
                    "returnDays": 90,
                    "returnDescription": "Free returns within 90 days",
                    "returnLinkUrl":
                        "https://www.samsclubby.example.com/returns",
                },
            }],
            "shippingOption": {"info": "Ships in 2 business days"},
            "reviewsAndRatings": {"avgRating": p["rating"],
                                  "numReviews": p["total_reviews"],
                                  "numRatings": p["total_ratings"]},
            "category": {
                "path": p["categories"],
                "breadcrumbs": [
                    {"displayName": c,
                     "seoUrl": "/c/" + c.lower().replace(" ", "-"),
                     "navId": f"N{k}"}
                    for k, c in enumerate(p["categories"])
                ],
            },
            "variantSummary": _redux_variant_summary(p),
            # Messages ride the product entry (parse_samsclub.py:222).
            "messages": [
                {"key": "sidesheet.shipping.upsell.message",
                 "value": "Free shipping over $35"},
                {"key": "channelbanner.pickup.message",
                 "value": "Pickup available"},
            ],
        }}},
        # Real pages key productImages "prod…-000…" (not the productId) —
        # the parser takes the FIRST value (parse_samsclub.py:220-221).
        "productImages": {f"prod{pid}-000{pid % 1000}":
                          {"images": [{"ImageUrl": u} for u in p["images"]]}},
    }
    return (
        _chrome_head(p["name"],
                     f'<link rel="canonical" href="{url}">')
        + _main_block(p)
        + f'<script id="tb-djs-wml-redux-state" type="application/json">{json.dumps(state)}</script>'
        + _FOOTER
    )


def _render_nextprops_detail(p: dict, url: str) -> str:
    # bedbathbeyond/parse_bedbathbeyond.py:42-49,80-109,140-282.
    pid = int(p["product_id"])
    options = [
        {"optionId": 1000 + k, "decription": f"{v['value']} option",
         "price": round(p["price"] + k, 2),
         "comparePrice": round(p["list_price"] + k, 2),
         "isInStock": v["available"],
         "oViewerImagesIds": 5000 + k}
        for k, v in enumerate(p["variants"])
    ]
    viewer_images = [
        {"id": 5000 + k, "cdnPath": f"bb/{pid}/{k}.jpg"}
        for k in range(len(p["images"]))
    ]
    # X2 fragment: details paragraphs, then Features:/Dimensions: headers
    # each followed by a <ul>.
    desc_html = (
        f"<p>{p['description']}</p><p>   </p>"
        "<p>Features:</p><ul>"
        + "".join(f"<li>{f}</li>" for f in p["features"]) + "</ul>"
        "<p>Dimensions:</p><ul>"
        + "".join(f"<li>{s['name']}: {s['value']}</li>"
                  for s in p["specifications"]) + "</ul>"
    )
    next_data = {"props": {"pageProps": {
        "product": {
            "id": p["product_id"], "name": p["name"], "brandName": p["brand"],
            "memberPrice": p["price"],        # ref :75
            "defaultOptionId": 1000,          # ref :68 list_price source
            "meta": {"htmlUrl": url},         # ref :61
            "description": desc_html,
            "ratingCounts": p["rating_hist"],  # ref :102 rides the product
            "priceSet": [{"label": "Sale", "symbol": "$"}],  # ref :79
            "options": options,
            "oViewerImages": viewer_images,
            "specificationAttributes": {"attributeGroups": [{
                "attributes": [{"label": s["name"], "values": s["value"]}
                               for s in p["specifications"]]}]},
            "specifications": p["specifications"],
            "isInStock": p["in_stock"],
            "countryOfOrigin": "USA" if pid % 2 == 0 else None,
            "productContents": [
                {"contentName": "Assembly Guide",
                 "contentUrl": f"/guides/{pid}"}] if pid % 3 == 0 else [],
        },
        # ref :139-147: categories ride crossSell[0].tiles.
        "crossSell": [{"tiles": [
            {"subcategory_title": c,
             "subcategory_url": "c/" + c.lower().replace(" ", "-")}
            for c in p["categories"]]}],
        "config": {"shipping": {"freeShippingBaseline": 50,
                                "freeShippingThreshold": 49.99,
                                "flatRate": round(pid % 10 + 0.99, 2)}},
        "initialPowerReviews": {
            "paging": {"total_results": p["total_reviews"]},
            "results": [{"reviews": [
                {"details": {"nickname": f"bb_user{k}",
                             "headline": f"BB Review {k}",
                             "comments": f"BB comment {k} for {pid}"},
                 "metrics": {"rating": (pid + k) % 5 + 1,
                             "helpful_votes": k + 1,
                             "not_helpful_votes": k % 2,
                             "helpful_score": 60 + k},
                 "badges": {"is_verified_buyer": k % 2 == 0}}
                for k in range(pid % 2 + 1)
            ]}],
        },
        # ref :81: the singular 'financingOffer' key.
        "financingOffer": [
            {"data": {"financingOfferType": "DEFERRED"},
             "html": {"messageHtml": "<b>0% APR</b> for 12 months"}}
        ] if pid % 2 == 0 else [],
        # dataLayer rides pageProps.meta (ref :46-47); live pages carry an
        # empty zipCode string (the extractor maps '' -> None).
        "meta": {"zipCode": "",
                 "dataLayer": {
                     "product_image_url": [
                         f"https://ak1.ostkcdn.com/images/products/bb/{pid}/0.jpg"],
                     "order_currency": p["currency"]}},
    }}}
    return (
        _chrome_head(p["name"], f'<link rel="canonical" href="{url}">')
        + _main_block(p)
        + f'<script id="__NEXT_DATA__" type="application/json">{json.dumps(next_data)}</script>'
        + _FOOTER
    )


def _render_inline_js_detail(p: dict, url: str) -> str:
    # costco/parse_costco.py:47-64 (scalars), :288-300 (single-quoted arrays),
    # :313-319 (base64 price), :160-200 (sibling-navigated Features/Dimensions).
    b64_price = base64.b64encode(f"{p['price']:.2f}".encode()).decode()
    b64_list = base64.b64encode(f"{p['list_price']:.2f}".encode()).decode()
    # Reference carrier shapes (verified on costco_{1..4}.html): products
    # and options are DOUBLY-nested arrays — the ref regex (:290-291)
    # captures the inner one — options is single-quoted (the ref's
    # ' → " fix-up, :298), and the three carriers live in three SEPARATE
    # <script> elements (adobe scalars / products+options /
    # itemDetailsList), which is exactly the layout that distinguishes
    # per-marker script location from one-script regexing.
    def _b64(x: float) -> str:
        return base64.b64encode(f"{x:.2f}".encode()).decode()

    products_js = json.dumps([[
        {"partNumber": f"{p['product_id']}-{k}",
         "productUrl": f"{url}?variant={k}",
         # k % 3 == 0 → empty price string (the ref's falsy branch)
         "price": _b64(p["price"] + k) if k % 3 else "",
         "listPrice": _b64(p["list_price"] + k),
         "minQty": "1", "maxQty": "9999",
         "img_url": p["images"][k % len(p["images"])],
         "options": [str(7000 + k)],
         "inventory": "IN_STOCK" if v["available"] else "OUT_OF_STOCK"}
        for k, v in enumerate(p["variants"])
    ]])
    options_js = json.dumps([[
        {"n": "Color", "s": "0",
         "v": {str(7000 + k): v["value"]
               for k, v in enumerate(p["variants"])}}
    ]]).replace('"', "'")
    inline = (
        "var adobeProductData = {"
        f"priceMax: '{p['price']:.2f}', priceMin: '{p['price']:.2f}', "
        f"pid: '{p['product_id']}', sku: 'SKU{p['product_id']}', "
        f"priceTotal: '{b64_price}', priceListTotal: '{b64_list}', "
        f"cdn_url: '{p['images'][0]}'"
        "};"
    )
    inline_variants = (
        f"var products = {products_js};\n"
        f"var options = {options_js};"
    )
    inline_images = (
        "var itemDetailsList = ["
        + "".join("{cdn_url: '%s',}," % u for u in p["images"])
        + "];"
    )
    pid = int(p["product_id"])
    feats = "".join(f"<li>{f}</li>" for f in p["features"])
    dims = "".join(
        f"<li>{s['name']}: {s['value']}</li>" for s in p["specifications"]
    )
    extra_dims = (f"<li>Depth: {pid % 12 + 1} in</li>"
                  f"<li>Clearance: {pid % 6 + 1} in</li>")
    spec_rows = "".join(
        f'<div class="row"><div>{s["name"]}</div><div>{s["value"]}</div></div>'
        for s in p["specifications"])
    og = (
        f'<meta property="og:title" content="{p["name"]}">'
        f'<meta property="og:description" content="{p["description"]}">'
        f'<meta property="og:image" content="{p["images"][0]}?size=large">'
        f'<link rel="canonical" href="{url}?ref=track">'
    )
    return (
        _chrome_head(p["name"], og)
        + '<main><article class="product-main">'
        + f"<h1>{p['name']}</h1>"
        + f'<div itemprop="brand">{p["brand"]}</div>'
        + f'<span class="price">${p["price"]:.2f}</span>'
        + '<span class="currency">USD</span>'
        + f'<div class="item-model-number">Model <span itemprop="sku">M-{pid}</span></div>'
        + '<div class="pills-section">'
        + f'<div class="single-pill">Top Seller {pid % 3}</div>'
        + '<div class="single-pill">Member Favorite</div></div>'
        + f'<div class="description"><p>{p["description"]}</p></div>'
        # Real-page Includes shape (costco_3): the payload is the text
        # node between the <strong> marker and the following <br/>, with
        # a trailing <strong>Features:</strong> in the SAME <p> — the
        # leak the ref's contents[4] never picks up.
        + (f"<p><br/><strong>Includes:</strong>&nbsp;Unit {pid % 4}, "
           "Manual, Power cable<br/><br/><strong>Extras:</strong></p>")
        + f"<p>Features: includes the following</p><ul>{feats}</ul>"
        + f"<p>Dimensions and Weight: see below</p><ul>{dims}</ul>"
        + f"<p>Additional Dimensions: more</p><ul>{extra_dims}</ul>"
        + '<h3 class="section-title">Specifications</h3>'
        + f'<div class="spec-section">{spec_rows}</div>'
        + '<figure class="product-manuals"><ul>'
        + f'<li><a href="/manuals/{pid}.pdf">Owner manual</a></li>'
        + f'<li><a href="/manuals/{pid}-guide.pdf">Quick guide</a></li>'
        + "</ul></figure>"
        + '<div class="product-info-shipping">Standard shipping'
        + "<span>2-5 business days</span></div>"
        + '<div class="product-info-returns">Returns accepted'
        + "<span>within 30 days</span></div>"
        + ('<div class="prop65warning">WARNING: California Prop 65</div>'
           if pid % 2 == 0 else "")
        + "</article></main>"
        + f"<script>{inline}</script>"
        + f"<script>{inline_variants}</script>"
        + f"<script>{inline_images}</script>"
        + _FOOTER
    )


def _render_pixels_detail(p: dict, url: str) -> str:
    # overstock/parse_overstock.py:79-110 (3 carved blobs + scalars),
    # :182-189 (data-src images), :205-229 (sectionizer X1 description).
    pid = int(p["product_id"])
    product_js = json.dumps({
        "id": p["product_id"], "title": p["name"], "vendor": p["brand"],
        "currency": p["currency_symbol"],     # datalayer carries the SYMBOL
        "available": p["in_stock"],
        "taxonomyList": p["categories"],      # ref :174 categories source
        "inventory": [{"quantity": pid % 10 + 1}],
        "attributeList": [{"label": s["name"], "values": s["value"]}
                          for s in p["specifications"]],
    })
    desc_lines = [p["description"], "Features:"] + p["features"] + [
        "Dimensions:",
    ] + [f"{s['name']}: {s['value']}" for s in p["specifications"]]
    # missingAttributes carries name/brand/url/description (ref :117-122).
    missing = json.dumps({
        "name": p["name"], "brand": {"name": p["brand"]}, "url": url,
        "description": "\n".join(desc_lines)})
    variants_js = json.dumps([
        {"id": 7000 + k,
         "price": {"amount": p["price"], "currencyCode": p["currency"]},
         "product": {"id": f"L{pid}", "title": p["name"],
                     "vendor": p["brand"]},
         "image": {"src": f"//img.overrock.example.com/v/{pid}/{k}.jpg"},
         "sku": f"OS{pid}-{k}", "title": v["value"]}
        for k, v in enumerate(p["variants"])
    ])
    reviews_js = json.dumps({
        "rollup": {"average_rating": p["rating"],
                   "rating_count": p["total_ratings"],
                   "review_count": p["total_reviews"]},
        "reviews": [
            {"details": {"nickname": f"user{k}", "headline": f"Review {k}",
                         "comments": f"Comment body {k} for {pid}"},
             "metrics": {"rating": (pid + k) % 5 + 1, "helpful_votes": k,
                         "not_helpful_votes": (k + 1) % 2,
                         "helpful_score": 50 + k},
             "badges": {"is_staff_reviewer": False,
                        "is_verified_buyer": k % 2 == 0,
                        "is_verified_reviewer": True}}
            for k in range(pid % 3 + 1)
        ],
    })
    # The four carriers live in DIFFERENT scripts on real pages
    # (parse_overstock.py:79-110 scans all of them): the datalayer script
    # assigns product TWICE (the parser takes matches[1], ref :103), the
    # pixels-manager script holds initData/productVariants/reviews, and
    # missingAttributes rides a third script followed by `const scripts`.
    datalayer_script = (
        "window.salesforce = window.salesforce || {datalayer: {}};\n"
        "window.salesforce.datalayer.product = {};\n"
        f"window.salesforce.datalayer.product = {product_js};\n"
    )
    pixels_script = (
        "webPixelsManagerAPI.create({\n"
        '  initData: {"shop": {"countryCode": "US"}, '
        '"purchasingCompany":null},});\n'
        f"const productVariants = {variants_js}\n"
        f"const reviews = {reviews_js}\n"
    )
    attrs_script = (
        f"const missingAttributes = {missing}\n"
        'const scripts = {"tag": "pdp"}\n'
        f"var merchant_id = '{1000 + int(p['product_id']) % 97}';\n"
        f"var api_key = 'ak_{p['product_id']}';\n"
        f"var page_id = 'pdp-{p['product_id']}';"
    )
    imgs = "".join(
        f'<li class="media-viewer__item"><img data-src="{u.split("https:")[-1]}" '
        'src="data:image/gif;base64,R0lGOD"></li>'
        for u in p["images"]
    )
    return (
        _chrome_head(p["name"], f'<link rel="canonical" href="{url}">')
        + _main_block(p)
        + f'<ul class="media-viewer">{imgs}</ul>'
        + f"<script>{datalayer_script}</script>"
        + f'<script id="web-pixels-manager-setup">{pixels_script}</script>'
        + f"<script>{attrs_script}</script>"
        + _FOOTER
    )


def _render_escaped_component_detail(p: dict, url: str) -> str:
    # bestbuy/parse_bestbuy_detai.py: double-escaped component JSON (:22-28),
    # XPath DOM fields (:33-86, exact-class + contains-class selectors),
    # shop-specifications (:125-136), data-track breadcrumbs (:73-83),
    # fulfillment Add to Cart in_stock (:70-71), draggable imgs + dedup (:45-46),
    # UPC from the initial_data carve (:140-152).
    comp = {"app": {"sku": p["product_id"],
                    "productPrice": {"currentPrice": p["price"],
                                     "regularPrice": p["list_price"]}},
            "specifications": {"categories": [{
                "displayName": "General",
                "specifications": [
                    {"displayName": "UPC", "value": f"0{p['product_id']}8"}],
            }]}}
    escaped = json.dumps(json.dumps(comp))[1:-1]  # double-escaped payload
    shop_specs = {"specifications": {"categories": [{
        "displayName": "General",
        "specifications": [{"displayName": s["name"], "value": s["value"]}
                           for s in p["specifications"]],
    }]}}
    crumbs = "".join(
        f'<a data-track="Breadcrumb" href="/c/{c.lower()}">{c}</a>'
        for c in ["Best Buyer"] + p["categories"]
    )
    # Duplicate first image twice: exercises order-preserving dedup (R8).
    img_srcs = [p["images"][0]] + p["images"]
    imgs = "".join(
        f'<img draggable="false" src="{u};maxHeight=200;maxWidth=200">'
        for u in img_srcs
    )
    button = ('<div class="fulfillment-add-to-cart-button">'
              '<button>Add to Cart</button></div>'
              if p["in_stock"] else
              '<div class="fulfillment-add-to-cart-button">'
              '<button>Sold Out</button></div>')
    rating_html = (
        '<div class="ugc-ratings-reviews inline">'
        f'<span class="ugc-c-review-average">{p["rating"]:.1f}</span>'
        f'<span class="c-reviews order-2">({p["total_reviews"]:,} Reviews)</span>'
        "</div>"
    )
    inline = (
        'window.initializer = {};'
        f'initializer.initializeComponent({{"data": "{escaped}", '
        f'"context": "pdp"}});'
    )
    # Second script: componentData carve (bestbuy:93-122) — one '{' before
    # the escaped payload so "find 2nd '{'" lands on the payload start.
    pid = int(p["product_id"])
    component_data = {"app": {"componentData": {
        "product-description": {
            "shouldRenderComponent": True,
            "description": {"longDescription": {"parsedHtmlFragments": [
                {"plainText": p["description"]},
                {"html": "<b>markup-only fragment</b>"},
                {"plainText": "Extra details."},
            ]}},
        },
        "whats-included": {
            "shouldRenderComponent": pid % 2 == 0,
            "includedItems": [{"description": f"Unit {pid % 4}"},
                              {"description": "Manual"}],
        },
        "product-features": {
            "shouldRenderComponent": True,
            "modelNumber": f"BB-{pid}",
            "features": [{"title": f"Feature {k}", "description": feat}
                         for k, feat in enumerate(p["features"])],
        },
        "product-energy-ratings": {
            "shouldRenderComponent": pid % 3 == 0,
            "energyRatings": {"energyStarCertified": pid % 6 == 0},
        },
    }}}
    comp2_escaped = json.dumps(json.dumps(component_data))[1:-1]
    inline2 = (
        "window.bbState = {}; "
        f'initializer.getInitializer("componentData", "{comp2_escaped}");'
    )
    return (
        _chrome_head(p["name"],
                     f'<meta property="og:url" content="{url}">')
        + f'<nav class="c-breadcrumbs">{crumbs}</nav>'
        + '<main><article class="product-main">'
        + f'<div class="sku-title"><h1>{p["name"]}</h1></div>'
        + f'<div class="shop-product-title"><span>'
          f'<a href="/brands/{p["brand"].lower()}">{p["brand"]}</a></span></div>'
        + '<div class="pricing-price"><div class="priceView-hero-price '
          'priceView-customer-price">'
          f'<span>${p["price"]:,.2f}</span><span class="sr-only">price</span>'
          "</div></div>"
        + rating_html + button
        + f'<div class="long-description">{p["description"]}</div>'
        + imgs
        + "</article></main>"
        + f"<script>{inline}</script>"
        + f"<script>{inline2}</script>"
        + f'<script id="shop-specifications" type="application/json">{json.dumps(shop_specs)}</script>'
        + _FOOTER
    )


def _render_webpack_detail(p: dict, url: str) -> str:
    # prev/parse_wayfair.py:44-48 (assignment slice), :96-132 (T15 fallback
    # chains), :153-159 (star button), :179-201 (semi-join + thumbnail
    # substitution), :74-90 (data-URI filter + hi-res rewrites).
    pid = int(p["product_id"])
    vtype = p["variants"][0]["type"] if p["variants"] else "Color"
    options = [
        {"option_id": 7000 + k, "name": v["value"], "thumbnail_id": 8000 + k}
        for k, v in enumerate(p["variants"])
    ] + [{"option_id": 7900 + k, "name": f"Unused{k}",
          "thumbnail_id": 9900 + k} for k in range(2)]
    selected = [7000 + k for k in range(len(p["variants"]))]
    price_json = {"listPrice": {"quantityPrice": {"value": p["list_price"]}}}
    if pid % 2 == 0:  # T15: JSON price present only on even pids
        price_json["customerPrice"] = {
            "quantityPrice": {"value": p["price"], "currency": "USD"}}
    entry = {
        "application": {"props": {"productData": {   # parse_wayfair.py:51
            "price": price_json,
            "options": {"selectedOptions": selected,
                        "standardOptions": [
                            {"category_name": vtype, "options": options}]},
            "delivery": {"postal_code": f"100{pid % 90:02d}",
                         "postal_code_city": "New York"},
        }}}
    }
    # Real pages also carry guarded spread-merge re-assignments
    # (={...window[...], ...{delta}}) — rendered so the carve must pick
    # the largest parsable blob, not the first marker hit.
    spread = ('window["WEBPACK_ENTRY_DATA"]={...window["WEBPACK_ENTRY_DATA"], '
              '...{"application":{"key":"HotDeals"}}};')
    inline = (f'{spread}window["WEBPACK_ENTRY_DATA"] = {json.dumps(entry)};')
    main_image = (f"https://img.wayflair.example.com/5000/50001/p/"
                  f"{pid}_main.jpg")
    carousel_lis = (
        '<li><img src="data:image/gif;base64,R0lGOD"></li>'   # Q8 victim
        + "".join(
            f'<li><img src="{u.replace("/p/", "/timg-h310-w310/compr-r40/p/")}"></li>'
            for u in p["images"])
    )
    spaced_name = p["name"].replace(" ", "  ", 1)  # T12 collapse input
    list_block = (f'<div class="BasePriceBlock--list">'
                  f'Was ${p["list_price"]:,.2f}</div>'
                  if pid % 3 == 0 else "")
    return (
        _chrome_head(p["name"], f'<link rel="canonical" href="{url}">')
        + '<main><div class="HotDeals">'
        + f'<a class="HotDealsProductTitle">{spaced_name}</a>'
        + f'<p class="HotDealsProductTitle-manufacturerName">By {p["brand"]}</p>'
        + f'<div class="BasePriceBlock">${p["price"]:,.2f}</div>'
        + list_block
        + f'<button data-hb-id="ReviewStars"><p>Rated {p["rating"]:.1f} out '
          f'of 5<span> | </span>{p["total_ratings"]} ratings</p></button>'
        + '<div class="ProductDetailSingleMediaViewer">'
        + f'<img src="{main_image}"></div>'
        + f'<ul class="HotDealsThumbnailCarousel-container">{carousel_lis}</ul>'
        + '<form class="HotDealsCallToActionForm">'
        + f'<input name="sku" value="W{p["product_id"]}"></form>'
        + "</div></main>"
        + "<script>var a=1;</script>"
        + f"<script>{inline}</script>"
        + "<script>var b=2;</script>"
        + _FOOTER
    )


def _render_discover_detail(p: dict, url: str) -> str:
    # prev/parse_tesco_html.py:29-37 (Apollo cache), :95-113 (reviews* key scan).
    pid = p["product_id"]
    npid = int(pid)
    cache = {
        "ROOT_QUERY": {"typename": "Query"},
        f"ProductType:{pid}": {
            "id": pid, "title": p["name"], "brandName": p["brand"],
            "price": {"actual": p["price"], "unitPrice": p["price"]},
            "tpnb": f"0{pid}", "tpnc": f"1{pid}", "gtin": f"5{pid}",
            "description": p["features"],
            "defaultImageUrl": p["images"][0],
            "images": p["images"],
            "details": {
                "packSize": [{"value": "1", "units": "EA"}],
                "storage": (["Keep refrigerated", "Use within 3 days"]
                            if npid % 2 == 0 else None),
                "nutrition": ([
                    {"name": "Energy", "value1": f"{npid % 900}kJ",
                     "value2": f"{npid % 215}kcal", "value3": None,
                     "value4": None},
                    {"name": "Fat", "value1": f"{npid % 30}g",
                     "value2": "-", "value3": None, "value4": None},
                ] if npid % 3 == 0 else None),
            },
            "superDepartmentName": p["categories"][0],
        },
        f"reviewsData:ProductType:{pid}": {
            "stats": {"overallRating": p["rating"],
                      "noOfReviews": p["total_reviews"]},
            "entries": [
                {"rating": {"value": (npid + k) % 5 + 1},
                 "author": {"nickname": f"t_user{k}"},
                 "status": "APPROVED",
                 "summary": f"Summary {k}",
                 "text": f"Review text {k} for {pid}",
                 "syndicated": k % 2 == 0,
                 "syndicationSource": {"name": "TescoSrc"}}
                for k in range(npid % 2 + 1)
            ],
        },
    }
    blob = {"mfe-orchestrator": {"props": {"apolloCache": cache}},
            "mfe-pdp": {"props": {"config": {"client": {
                "isoCurrencyCode": "GBP"}}}}}
    return (
        _chrome_head(p["name"], f'<link rel="canonical" href="{url}">')
        + _main_block(p)
        + f'<script type="application/discover+json">{json.dumps(blob)}</script>'
        + _FOOTER
    )


def _nextdata_serp_slots(idx: int) -> list:
    """SERP slot list shared by renderer and golden (None = ad slot):
    one derivation so the RNG seed / ad modulus can never drift apart."""
    r = _rng(idx * 7 + 3)
    return [None if k % 4 == 3 else payload_for(idx * 1000 + k)
            for k in range(r.randint(4, 10))]


def _css_serp_items(idx: int) -> list:
    """Card payloads shared by the css-serp renderer and golden."""
    r = _rng(idx * 13 + 5)
    return [payload_for(idx * 1000 + k) for k in range(r.randint(3, 8))]


def _render_nextdata_serp(p: dict, url: str, idx: int) -> str:
    # walmart/parse_walmart.py:36-71 — mix of Product / non-Product items (Q7).
    slots = _nextdata_serp_slots(idx)
    n_items = len(slots)
    items = []
    for k, sub in enumerate(slots):
        if sub is None:
            items.append({"__typename": "AdPlaceholder", "adUnit": f"ad-{k}"})
        else:
            spid = int(sub["product_id"])
            items.append({
                "__typename": "Product",
                "usItemId": sub["product_id"], "name": sub["name"],
                "id": f"ITEM{spid}",                 # → model_no
                "price": sub["price"],               # top-level line price
                "priceInfo": {
                    "priceRangeString": (f"From ${sub['price']:.2f}"
                                         if spid % 3 == 0 else ""),
                    # rollback pricing every 4th product (wasPrice string)
                    "wasPrice": (f"${sub['list_price']:,.2f}"
                                 if spid % 4 == 0 else ""),
                },
                "rating": {"averageRating": sub["rating"],
                           "numberOfReviews": sub["total_reviews"]},
                "isOutOfStock": not sub["in_stock"],
                "description": (f"{sub['name']} highlights"
                                if spid % 5 else ""),
                "canonicalUrl": f"/ip/{sub['product_id']}?athcpid=x",
                "imageInfo": {"thumbnailUrl":
                              sub["images"][0] + "?odnHeight=180"},
                "sellerName": f"{sub['brand']} Store",
                "isSponsoredFlag": k % 5 == 0,
                "variantCriteria": [{
                    "name": "shoe_size" if spid % 2 else "Color",
                    "variantList": [
                        {"name": v["value"],
                         "images": [f"https://img.walmarket.example.com/v/{spid}/{j}.jpg"],
                         "swatchImageUrl":
                             f"https://img.walmarket.example.com/sw/{spid}/{j}.jpg",
                         "availabilityStatus": ("AVAILABLE" if v["available"]
                                                else "NOT_AVAILABLE"),
                         "products": [f"MOD{spid}{j}"],
                         "selectedProduct": {
                             "usItemId": f"{spid}{j}",
                             "canonicalUrl": f"/ip/{spid}{j}?variant=1"}}
                        for j, v in enumerate(sub["variants"])
                    ],
                }] if sub["variants"] else [],
                # DELIVERY slot may be null — date rides the PICKUP entry
                # (walmart_mustard fixtures), timestamp form (T7 split).
                "fulfillmentSummary": [
                    {"fulfillment": "DELIVERY", "deliveryDate": None},
                    {"fulfillment": "PICKUP",
                     "deliveryDate":
                         f"2025-0{spid % 9 + 1}-10T16:00:00.000Z"}],
            })
    search_term = f"{_NOUN[idx % len(_NOUN)].lower()}"
    next_data = {"props": {"pageProps": {"initialData": {"searchResult": {
        "itemStacks": [{"items": items, "count": n_items}],
        "aggregatedCount": n_items * 3,
        "paginationV2": {"maxPage": 9,
                         "pageProperties": {"ps": "4", "page": 1}},
    }}, "initialSearchQueryVariables": {"query": search_term, "page": 1},
        # J7 JSON-in-JSON: currency inside a string field
        # (walmart/parse_walmart.py:49-62).
        "bootstrapData": {"cv": {"identity": {"_all_": {
            "identityNextTenants": json.dumps({"currency": "USD"})}}}},
    }}}
    lis = "".join(
        f"<li class='serp-card'><h3>{it.get('name', 'ad')}</h3></li>" for it in items
    )
    return (
        _chrome_head(f"Search: {search_term}")
        + f"<main><h1>Results for {search_term}</h1><ul class='serp'>{lis}</ul></main>"
        + f'<script id="__NEXT_DATA__" type="application/json">{json.dumps(next_data)}</script>'
        + _FOOTER
    )


def _render_css_serp(p: dict, url: str, idx: int) -> str:
    # prev/parse_mercado.py:30-66 — no JSON carrier, split fraction/cents.
    cards = []
    for k, sub in enumerate(_css_serp_items(idx)):
        spid = int(sub["product_id"])
        frac = int(sub["price"])
        cents = int(round((sub["price"] - frac) * 100))
        lfrac = int(sub["list_price"])
        lcents = int(round((sub["list_price"] - lfrac) * 100))
        img = (f'<img src="data:image/gif;base64,R0" data-src="{sub["images"][0]}">'
               if k % 2 else f'<img src="{sub["images"][0]}">')
        cents_span = ("" if spid % 4 == 0 else
                      f'<span class="andes-money-amount__cents">{cents:02d}</span>')
        reviews_div = (
            '<div class="poly-component__reviews">'
            '<span class="andes-visually-hidden">'
            f'Calificación {sub["rating"]:.1f} de 5 ({sub["total_ratings"]}\n'
            "calificaciones)</span></div>"
        ) if spid % 3 != 0 else ""
        prev_price = (
            '<s class="andes-money-amount--previous">'
            '<span class="andes-money-amount__currency-symbol">$</span>'
            f'<span class="andes-money-amount__fraction">{lfrac:,}</span>'
            f'<span class="andes-money-amount__cents">{lcents:02d}</span></s>'
        ) if spid % 2 == 0 else ""
        cards.append(
            '<li class="ui-search-layout__item">'
            f'<a class="ui-search-link" href="https://www.mercadolibro.example.com/p/{sub["product_id"]}#origin=serp">'
            f'<h2 class="ui-search-item__title">{sub["name"]}</h2></a>'
            f'{img}'
            f'<span class="poly-component__brand">{sub["brand"]}</span>'
            f'{reviews_div}'
            '<div class="poly-price__current">'
            '<span class="andes-money-amount__currency-symbol">$</span>'
            f'<span class="andes-money-amount__fraction">{frac:,}</span>'
            f"{cents_span}</div>"
            f"{prev_price}"
            "</li>"
        )
    return (
        _chrome_head("Listado")
        + f'<main><ol class="ui-search-layout">{"".join(cards)}</ol></main>'
        + _FOOTER
    )


def _ldjson_reviews(idx: int) -> list[dict]:
    """Deterministic top-reviews shared by renderer and golden (T7 dates)."""
    r = _rng(idx * 19 + 9)
    out = []
    for k in range(r.randint(1, 3)):
        m = r.randint(0, 11)
        day = r.randint(1, 28)
        out.append({
            "name": f"Review {k + 1}",
            "reviewBody": _sentence(r, 10),
            "reviewRating": {"ratingValue": r.randint(1, 5)},
            "datePublished": f"{_MONTHS[m]} {day}, 2025",
            "_iso": f"2025-{m + 1:02d}-{day:02d}",
            "author": {"name": f"user{r.randint(100, 999)}"},
        })
    return out


def _render_ldjson_detail(p: dict, url: str, idx: int) -> str:
    # walmart/parse_walmart-2.py:19-71 — ld+json carrier + DOM scalars.
    reviews = [{k: v for k, v in rv.items() if k != "_iso"}
               for rv in _ldjson_reviews(idx)]
    ld = {
        "@context": "https://schema.org", "@type": "Product",
        "sku": p["product_id"],
        "brand": {"name": p["brand"]},
        "description": p["description"],
        "aggregateRating": {"ratingValue": p["rating"],
                            "ratingCount": p["total_ratings"],
                            "reviewCount": p["total_reviews"]},
        "review": reviews,
        "offers": {"availability": "InStock" if p["in_stock"] else "OutOfStock"},
    }
    crumbs = "".join(
        f'<li><a href="/cat/{c.lower().replace(" ", "-")}">{c}</a></li>'
        for c in p["categories"]
    )
    thumbs = "".join(
        f'<div data-testid="media-thumbnail"><img src="{u}?odnHeight=80"></div>'
        for u in p["images"]
    )
    return (
        _chrome_head(p["name"], f'<link rel="canonical" href="{url}">')
        + f'<script type="application/ld+json">{json.dumps(ld)}</script>'
        + f'<main><h1 itemprop="name">{p["name"]}</h1>'
        + f'<ol class="w_4HBV">{crumbs}</ol>'
        + f'<div class="media">{thumbs}</div>'
        + f'<span itemprop="price">current price ${p["price"]:,.2f}</span>'
        + (('<div data-testid="postpaid-price"><div class="mid-gray">'
            '<span class="mr2">for 36 months, 0% APR</span></div></div>')
           if int(p["product_id"]) % 2 == 0 else "")
        + f'<div class="description"><p>{p["description"]}</p></div></main>'
        + _FOOTER
    )


def _webpack_grid(idx: int) -> list[dict]:
    """Deterministic browse grid shared by renderer and golden."""
    r = _rng(idx * 23 + 13)
    grid = []
    for k in range(r.randint(3, 7)):
        sub = payload_for(idx * 1000 + k)
        grid.append({
            "sku": f"W{sub['product_id']}",
            "url": f"https://www.wayflair.example.com/p/{sub['product_id']}",
            "product_name": sub["name"],
            "manufacturer": sub["brand"],
            "image_data": {"ireid": 400000 + (idx * 1000 + k) % 500000},
            "free_ship_text": "Free shipping" if k % 2 else None,
            "average_overall_rating": sub["rating"],
            "review_count": sub["total_reviews"],
            "features_array": sub["features"][:2],
            "romance_copy": sub["description"],
            "raw_pricing_data": {"pricing": {
                "customerPrice": {"quantityPrice": {"value": sub["price"],
                                                    "currency": "USD"}},
                "everydayPrice": {"quantityPrice": {"value": round(sub["price"] * 1.1, 2)}},
                "listPrice": {"quantityPrice": {"value": sub["list_price"]}},
            }},
        })
    return grid


_WEBPACK_SERP_IMG = ("https://img.wayflair.example.com/ir/1234/567890/"
                     "resize-h250-w250/pic.jpg")


def _render_webpack_serp(p: dict, url: str, idx: int) -> str:
    # prev/parse_wayfair_category.py:33-50 — WEBPACK slice + ireid rewrite.
    grid = _webpack_grid(idx)
    entry = {"application": {"props": {"browse": {"browse_grid_objects": grid}}}}
    cards = "".join(
        f'<div class="card"><h3>{g["product_name"]}</h3></div>' for g in grid
    )
    return (
        _chrome_head("Browse")
        + f'<img data-hb-id="FluidImage" src="{_WEBPACK_SERP_IMG}">'
        + f'<main><div class="grid">{cards}</div></main>'
        + "<script>var pre=1;</script>"
        + f'<script>window["WEBPACK_ENTRY_DATA"] = {json.dumps(entry)};</script>'
        + _FOOTER
    )


def _apijson_body(idx: int) -> dict:
    """Deterministic API dump shared by renderer and golden (S2 source)."""
    r = _rng(idx * 29 + 17)
    n = r.randint(3, 8)
    products = []
    for k in range(n):
        sub = payload_for(idx * 1000 + k)
        products.append({
            "code": sub["product_id"],
            "name": sub["name"],
            "modelNumber": f"M{sub['product_id']}",
            "url": f"/product/{sub['product_id']}",
            "brand": sub["brand"],
            "imageUrl": sub["images"][0],
            "pricing": {"displayPrice": {"value": sub["price"],
                                         "currencyIso": "CAD"}},
            "productRating": {"averageRating": sub["rating"],
                              "totalReviews": sub["total_reviews"]},
        })
    return {
        "searchReport": {"currentKeyword": _NOUN[idx % len(_NOUN)].lower(),
                         "totalProducts": n * 5},
        "products": products,
        "metadata": {"source": "api", "page_size": n},
    }


def _render_pdf(p: dict, idx: int) -> bytes:
    """Minimal valid-enough PDF with a FlateDecode text stream (north_star
    PDF branch; absent in reference — SURVEY.md §7.6)."""
    lines = [f"Report {idx}", p["name"], f"Brand: {p['brand']}",
             f"Price: {p['price']:.2f}"]
    ops = ["BT", "/F1 12 Tf", "72 720 Td"]
    for ln in lines:
        esc = ln.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        ops.append(f"({esc}) Tj")
        ops.append("0 -14 Td")
    ops.append("ET")
    content = "\n".join(ops).encode("latin-1")
    comp = zlib.compress(content)
    objs = []
    objs.append(b"1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj")
    objs.append(b"2 0 obj<</Type/Pages/Kids[3 0 R]/Count 1>>endobj")
    objs.append(b"3 0 obj<</Type/Page/Parent 2 0 R/Contents 4 0 R>>endobj")
    objs.append(
        b"4 0 obj<</Length " + str(len(comp)).encode()
        + b"/Filter/FlateDecode>>stream\n" + comp + b"\nendstream endobj"
    )
    out = [b"%PDF-1.4"]
    offsets = []
    pos = len(out[0]) + 1
    for o in objs:
        offsets.append(pos)
        out.append(o)
        pos += len(o) + 1
    xref_pos = pos
    xref = [b"xref", b"0 5", b"0000000000 65535 f "]
    for off in offsets:
        xref.append(f"{off:010d} 00000 n ".encode())
    out += xref
    out.append(b"trailer<</Size 5/Root 1 0 R>>")
    out.append(b"startxref")
    out.append(str(xref_pos).encode())
    out.append(b"%%EOF")
    return b"\n".join(out)


def _render_error(idx: int) -> str:
    """Blocked/broken page (walmart/walmart_detail_error_*.html analog)."""
    r = _rng(idx * 31 + 11)
    if r.getrandbits(1):
        return ("<html><head><title>Access Denied</title></head><body>"
                "<h1>Access Denied</h1><p>You don't have permission to "
                "access this page.</p></body></html>")
    # Truncated / malformed markup.
    return "<html><body><div class='x'><p>Loading…<script>var q = {"


def _filler_blocks(idx: int, n_blocks: int) -> str:
    """Deterministic page-bloat: related-product link grids + prose blocks
    (~1 KiB each) appended before the footer. Makes bench pages approach
    real crawl-page sizes (0.4–1.8 MB in the reference fixtures) without
    changing any extracted field."""
    r = _rng(idx * 17 + 7)
    out = ['<section class="related-products"><h2>Related products</h2>']
    for b in range(n_blocks):
        links = "".join(
            f'<li><a href="/p/{r.randint(100000, 999999)}">'
            f"{r.choice(_ADJ)} {r.choice(_NOUN)} {r.randint(100, 999)}</a></li>"
            for _ in range(8)
        )
        out.append(f'<ul class="rel-grid">{links}</ul>')
        out.append(f"<p>{_sentence(r, 40)}</p>")
    out.append("</section>")
    return "".join(out)


def render_page(idx: int, filler: int = 0) -> bytes:
    profile = profile_for(idx)
    p = payload_for(idx)
    url = url_for(idx)
    if profile == "pdf":
        return _render_pdf(p, idx)
    if profile == "error":
        return _render_error(idx).encode("utf-8")
    if profile == "apijson-serp":
        # Raw JSON body (no HTML chrome, no filler — S2 API-dump source).
        return json.dumps(_apijson_body(idx)).encode("utf-8")
    if profile == "nextdata-detail":
        html = _render_nextdata_detail(p, url)
    elif profile == "redux-detail":
        html = _render_redux_detail(p, url)
    elif profile == "nextprops-detail":
        html = _render_nextprops_detail(p, url)
    elif profile == "inline-js-detail":
        html = _render_inline_js_detail(p, url)
    elif profile == "pixels-detail":
        html = _render_pixels_detail(p, url)
    elif profile == "escaped-component-detail":
        html = _render_escaped_component_detail(p, url)
    elif profile == "webpack-detail":
        html = _render_webpack_detail(p, url)
    elif profile == "discover-detail":
        html = _render_discover_detail(p, url)
    elif profile == "ldjson-detail":
        html = _render_ldjson_detail(p, url, idx)
    elif profile == "nextdata-serp":
        html = _render_nextdata_serp(p, url, idx)
    elif profile == "css-serp":
        html = _render_css_serp(p, url, idx)
    elif profile == "webpack-serp":
        html = _render_webpack_serp(p, url, idx)
    else:  # pragma: no cover
        raise ValueError(profile)
    if filler:
        assert html.endswith(_FOOTER)
        html = html[: -len(_FOOTER)] + _filler_blocks(idx, filler) + _FOOTER
    return html.encode("utf-8")


def page_record(idx: int, filler: int = 0) -> dict:
    """One row of the canonical pages table (BASELINE.json input_hint)."""
    return {
        "url": url_for(idx),
        "warc_ts": EPOCH + timedelta(seconds=idx * 37),
        "html": render_page(idx, filler=filler),
        "text": None,
        "lang": "en" if idx % 20 else "es",
    }


# --------------------------------------------------------------------------
# Golden envelopes — computed from the payload, never by parsing.
# --------------------------------------------------------------------------

def golden_envelope(idx: int) -> Optional[dict]:
    """Expected output envelope per page (None for pdf/error rows —
    those are asserted via their own status paths)."""
    profile = profile_for(idx)
    p = payload_for(idx)
    url = url_for(idx)
    if profile in ("pdf", "error"):
        return None

    if profile == "nextdata-serp":
        slots = _nextdata_serp_slots(idx)
        n_items = len(slots)
        base = "https://www.walmart.com"  # parse_walmart.py:90,98 constant
        results = []
        for k, sub in enumerate(slots):
            if sub is None:
                continue
            spid = int(sub["product_id"])
            rollback = spid % 4 == 0
            vkey = "size" if spid % 2 else "Color"  # last _-token of name
            results.append({
                "id": sub["product_id"],
                "name": sub["name"],
                "url": f"{base}/ip/{sub['product_id']}",
                "price_reduced": sub["price"] if rollback else None,
                "price": (round(sub["list_price"], 2) if rollback
                          else sub["price"]),
                "currency_code": "USD",
                "offer_msg": (f"From ${sub['price']:.2f}"
                              if spid % 3 == 0 else None),
                "rating": sub["rating"],
                "total_reviews": sub["total_reviews"] or None,
                "in_stock": sub["in_stock"],
                "model_no": f"ITEM{spid}",
                "description": (f"{sub['name']} highlights"
                                if spid % 5 else None),
                "image_url": sub["images"][0],
                "thumbnail": sub["images"][0] + "?odnHeight=180",
                "seller_name": f"{sub['brand']} Store",
                "is_sponsored": k % 5 == 0,
                "variants": {vkey: [
                    {"name": v["value"],
                     "images":
                         [f"https://img.walmarket.example.com/v/{spid}/{j}.jpg"],
                     "swatch_image":
                         f"https://img.walmarket.example.com/sw/{spid}/{j}.jpg",
                     "in_stock": v["available"],
                     "price": None,
                     "id": f"{spid}{j}",
                     "model_no": f"MOD{spid}{j}",
                     "url": f"{base}/ip/{spid}{j}"}
                    for j, v in enumerate(sub["variants"])
                ]} if sub["variants"] else {},
                "est_delivery_date": f"2025-0{spid % 9 + 1}-10",
            })
        return {
            "success": True,
            "search": _NOUN[idx % len(_NOUN)].lower(),
            "page": 1,
            "total_results": n_items * 3,
            "no_of_pages": -(-(n_items * 3) // 4),
            "result_count": len(results),
            "results": results,
            "meta_data": {},
            "remaining_credits": None,
        }

    if profile == "webpack-serp":
        import re as _re
        results = []
        for g in _webpack_grid(idx):
            ireid = str(g["image_data"]["ireid"])
            img = _re.sub(r"/\d+/\d+/", f"/{ireid[:4]}/{ireid}/",
                          _WEBPACK_SERP_IMG)
            img = _re.sub(r"resize-h\d+(?:-w\d+)?", "resize-h800-w800", img)
            pr = g["raw_pricing_data"]["pricing"]
            results.append({
                "sku": g["sku"], "url": g["url"], "name": g["product_name"],
                "manufacturer": g["manufacturer"], "image_url": img,
                "free_ship_text": g["free_ship_text"],
                "average_overall_rating": g["average_overall_rating"],
                "review_count": g["review_count"],
                "features": g["features_array"],
                "romance_copy": g["romance_copy"],
                "customer_price": pr["customerPrice"]["quantityPrice"]["value"],
                "everyday_price": pr["everydayPrice"]["quantityPrice"]["value"],
                "list_price": pr["listPrice"]["quantityPrice"]["value"],
                "currency": "USD",
            })
        return {"success": True, "result_count": len(results),
                "results": results}

    if profile == "apijson-serp":
        body = _apijson_body(idx)
        results = []
        for prod in body["products"]:
            results.append({
                "id": prod["code"], "name": prod["name"],
                "model_no": prod["modelNumber"],
                "url": f"https://www.homedepot.ca{prod['url']}",
                "brand": prod["brand"],
                "thumbnails": [prod["imageUrl"]],
                "price": prod["pricing"]["displayPrice"]["value"],
                "price_reduced": None,
                "currency": "CAD",
                "rating": prod["productRating"]["averageRating"],
                "total_reviews": prod["productRating"]["totalReviews"],
                "favorite_count": None,
                "inventory_quantity": None,
            })
        return {
            "success": True, "store_no": None, "zipcode": None,
            "search": body["searchReport"]["currentKeyword"],
            "page": None,
            "total_results": body["searchReport"]["totalProducts"],
            "no_of_pages": None,
            "result_count": len(results),
            "results": results,
            "meta_data": body["metadata"],
            "remaining_credits": None,
        }

    if profile == "css-serp":
        results = []
        for k, sub in enumerate(_css_serp_items(idx)):
            spid = int(sub["product_id"])
            frac = int(sub["price"])
            cents = int(round((sub["price"] - frac) * 100))
            lfrac = int(sub["list_price"])
            lcents = int(round((sub["list_price"] - lfrac) * 100))
            results.append({
                "name": sub["name"],
                "image": sub["images"][0],
                "brand": sub["brand"],
                "rating_value": (float(f"{sub['rating']:.1f}")
                                 if spid % 3 != 0 else 0.0),
                "rating_count": (sub["total_ratings"]
                                 if spid % 3 != 0 else 0),
                "price": (float(frac) if spid % 4 == 0
                          else float(f"{frac}.{cents:02d}")),
                "listing_price": (float(f"{lfrac}.{lcents:02d}")
                                  if spid % 2 == 0 else None),
                "currenty": "$",
                "url": f"https://www.mercadolibro.example.com/p/{sub['product_id']}",
            })
        return {
            "success": True,
            "result_count": len(results),
            "results": results,
        }

    # Detail profiles share the canonical detail dict; per-profile field
    # coverage differs where the carrier genuinely doesn't carry the field.
    detail = {
        "product_id": p["product_id"],
        "name": p["name"],
        "brand": p["brand"],
        "price": p["price"],
        "list_price": p["list_price"],
        "currency": "USD",
        "currency_symbol": "$",
        "rating": p["rating"],
        "total_ratings": p["total_ratings"],
        "total_reviews": p["total_reviews"],
        "description": p["description"],
        "images": list(p["images"]),
        "categories": list(p["categories"]),
        "specifications": [dict(s) for s in p["specifications"]],
        "variants": [
            {"type": v["type"], "value": v["value"], "available": v["available"]}
            for v in p["variants"]
        ],
        "in_stock": p["in_stock"],
        "url": url,
    }
    if profile == "redux-detail":
        pid = int(p["product_id"])
        detail["features"] = list(p["features"])
        detail["in_stock"] = None
        detail["sku_id"] = f"SKU{pid}"
        detail["upc"] = f"00{pid}7"
        detail["gtin"] = f"0{pid}"
        detail["item_no"] = str(pid % 100000)
        detail["model_no"] = f"M-{pid}"
        detail["main_image"] = p["images"][0]
        detail["price_per_unit"] = round(p["price"] / 4, 2)
        # X4 + (even) X3 sectioned table + T16 strong props, X6-normalized.
        specs = [dict(s) for s in p["specifications"]]
        if pid % 2 == 0:
            specs.append({"name": "Material", "value": f"Steel-{pid % 7}"})
            detail["additional_details"] = [
                {"name": "Package Contents",
                 "value": [f"Main unit {pid % 5}", "User manual"]}]
        specs.append({"name": "Net Volume",
                      "value": f"{pid % 40 + 1}.5 Liters"})
        detail["specifications"] = specs
        # T14 composites.
        detail["weight"] = f"{pid % 50 + 1} lbs"
        detail["weight_data"] = {"value": f"{pid % 50 + 1}", "unit": "lbs"}
        dims = {"length": (f"{pid % 30 + 2}", "in"),
                "width": (f"{pid % 20 + 2}", "in"),
                "height": ((f"{pid % 10 + 2}", "in") if pid % 2 == 0
                           else (None, None))}
        detail["dimensions"] = (
            f"{dims['length'][0]}L x {dims['width'][0]}W x "
            f"{dims['height'][0]}H in" if pid % 2 == 0 else None)
        detail["dimensions_data"] = {
            "box_count": pid % 3 + 1,
            "length": {"value": dims["length"][0], "unit": dims["length"][1]},
            "width": {"value": dims["width"][0], "unit": dims["width"][1]},
            "height": {"value": dims["height"][0], "unit": dims["height"][1]},
            "is_hazardous": False,
        }
        detail["buying_offers"] = {
            "amount_saved": round(p["list_price"] - p["price"], 2),
            "type": "INSTANT", "max_quantity": 2,
            "start_date": "2025-01-01", "end_date": "2025-12-31",
        } if pid % 4 == 0 else None
        detail["warranty"] = "1 year manufacturer warranty"
        detail["country_of_origin"] = "USA"
        detail["assembled_in"] = "Mexico"
        detail["shipping_info"] = ["Ships in 2 business days",
                                   "Free shipping over $35"]
        detail["curbside_pickup"] = "Pickup available"
        detail["returns"] = {
            "location": "Club or Online", "days": 90,
            "policy_text": "Free returns within 90 days",
            "policy_link": "https://www.samsclubby.example.com/returns",
        }
        # R3 join expectation, literal nested loop over the fixture inputs.
        vtype = p["variants"][0]["type"] if p["variants"] else "Color"
        vals = [(v["value"], p["images"][k % len(p["images"])])
                for k, v in enumerate(p["variants"])] + [("Phantom", None)]
        infos = [(f"SKU{pid}-{k}", v["value"])
                 for k, v in enumerate(p["variants"])]
        infos.append((f"SKU{pid}-X", "Ghost"))
        expected_variants = []
        for val, img in vals:
            for sku_id, iv in infos:
                if iv == val:
                    expected_variants.append({
                        "type": vtype, "name": val, "sku_id": sku_id,
                        "family_sku_id": f"G{pid}", "image_url": img})
        detail["variants"] = expected_variants or None
        detail["breadcrumbs"] = [
            {"name": c, "url": "/c/" + c.lower().replace(" ", "-"),
             "nav_id": f"N{k}"}
            for k, c in enumerate(p["categories"])
        ]
    elif profile == "nextprops-detail":
        pid = int(p["product_id"])
        prefix = "https://ak1.ostkcdn.com/images/products/"  # ref :150
        site = "https://www.bedbathandbeyond.com"  # golden-pinned prefix
        hist = p["rating_hist"]
        detail["listing_id"] = detail.pop("product_id")  # ref :66
        # list_price = comparePrice of defaultOptionId (=options[0])
        detail["list_price"] = round(p["list_price"], 2)
        tot = sum(hist.values())
        wsum = sum(int(k) * v for k, v in hist.items())
        detail["rating"] = (wsum / tot) if tot else 0
        detail["total_ratings"] = tot
        detail["description"] = p["description"] + "\n"
        detail["shipping_info"] = {"freeShippingBaseline": 50,
                                   "freeShippingThreshold": 49.99,
                                   "flatRate": round(pid % 10 + 0.99, 2)}
        detail["delivery_zipcode"] = None  # '' on page -> None
        detail["variant"] = {"option_id": 1000}  # ref :137 defaultOptionId
        detail["main_image"] = prefix + f"bb/{pid}/0.jpg"
        detail["images"] = [prefix + f"bb/{pid}/{k}.jpg"
                            for k in range(len(p["images"]))]
        detail["labelled_images"] = None
        detail["categories"] = [
            {"name": c, "url": f"{site}/c/" + c.lower().replace(" ", "-")}
            for c in p["categories"]]
        # variant-image equi-join (R2): option.oViewerImagesIds -> viewer.id;
        # 'selector' present only when the join resolves (golden vintage).
        detail["variants"] = [
            {"option_id": 1000 + k, "description": f"{v['value']} option",
             "price": round(p["price"] + k, 2),
             "listing_price": round(p["list_price"] + k, 2),
             "in_stock": v["available"],
             "url": None,
             **({"selector": prefix + f"bb/{pid}/{k}.jpg"}
                if k < len(p["images"]) else {})}
            for k, v in enumerate(p["variants"])
        ] or None
        detail["features"] = list(p["features"])
        detail["dimensions"] = [f"{s['name']}: {s['value']}"
                                for s in p["specifications"]]
        overview = [{"name": s["name"], "value": s["value"]}
                    for s in p["specifications"]] or None
        detail["overview"] = overview
        detail["details_table"] = overview
        detail["buying_offers"] = [
            {"offer_type": "DEFERRED",
             "offer_description": "0% APR for 12 months",
             "price": None, "seller": None}
        ] if pid % 2 == 0 else []
        detail["country_of_origin"] = "USA" if pid % 2 == 0 else None
        detail["review_aspects"] = [
            {"name": f"bb_user{k}", "headline": f"BB Review {k}",
             "comments": f"BB comment {k} for {pid}",
             "rating": (pid + k) % 5 + 1, "helpful_votes": k + 1,
             "not_helpful_votes": k % 2, "helpful_score": 60 + k,
             "verified_purchase": k % 2 == 0}
            for k in range(pid % 2 + 1)]
        detail["product_guides"] = (
            [{"text": "Assembly Guide", "url": f"{site}/guides/{pid}"}]
            if pid % 3 == 0 else None)
        # Golden-vintage envelope: request url under 'product_url'
        # (first-example.json; the current parser writes 'url'=htmlUrl).
        return {
            "success": True,
            "product_url": url,
            "result_count": 1,
            "detail": detail,
            "remaining_credits": None,
        }
    elif profile == "inline-js-detail":
        pid = int(p["product_id"])
        detail["sku"] = f"SKU{p['product_id']}"
        detail["features"] = list(p["features"])
        detail["categories"] = None
        detail["rating"] = None
        detail["total_ratings"] = None
        detail["total_reviews"] = None
        detail["review_aspects"] = None
        detail["in_stock"] = None
        detail["variant"] = None
        detail["variant_options"] = [
            {"name": "Color",
             "values": {str(7000 + k): v["value"]
                        for k, v in enumerate(p["variants"])}}
        ]
        detail["variants"] = [
            {"part_number": f"{p['product_id']}-{k}",
             "product_url": f"{url}?variant={k}",
             "price": round(p["price"] + k, 2) if k % 3 else None,
             "list_price": round(p["list_price"] + k, 2),
             "min_quantity": 1, "max_quantity": 9999,
             "img_url": p["images"][k % len(p["images"])],
             "options": [str(7000 + k)],
             "inventory": ("IN_STOCK" if v["available"]
                           else "OUT_OF_STOCK")}
            for k, v in enumerate(p["variants"])
        ]
        detail["price_listing"] = p["price"]
        detail["main_image"] = p["images"][0]
        detail["images"] = list(p["images"])
        detail["dimensions_weight"] = [
            f"{s['name']}: {s['value']}" for s in p["specifications"]]
        detail["additional_dimensions"] = [
            f"Depth: {pid % 12 + 1} in", f"Clearance: {pid % 6 + 1} in"]
        detail["includes"] = [f"Unit {pid % 4}", "Manual", "Power cable"]
        detail["model_numbers"] = [f"M-{pid}"]
        detail["pills"] = [f"Top Seller {pid % 3}", "Member Favorite"]
        detail["manuals_guides"] = [f"/manuals/{pid}.pdf",
                                    f"/manuals/{pid}-guide.pdf"]
        detail["product_label"] = None
        detail["warning"] = ("WARNING: California Prop 65"
                             if pid % 2 == 0 else None)
        detail["shipping"] = "Standard shipping\n2-5 business days\n"
        detail["returns"] = "Returns accepted\nwithin 30 days\n"
    elif profile == "pixels-detail":
        pid = int(p["product_id"])
        # ref :133 hardcodes list_price None; description keeps the
        # sectionizer's per-line trailing newlines (ref :225).
        detail["list_price"] = None
        detail["description"] = p["description"] + "\n"
        detail["features"] = list(p["features"])
        detail["dimensions"] = [
            f"{s['name']}: {s['value']}" for s in p["specifications"]]
        detail["specifications"] = [dict(s) for s in p["specifications"]]
        detail["product_id"] = p["product_id"]
        detail["listing_id"] = f"L{pid}"
        detail["main_image"] = f"https://img.overrock.example.com/v/{pid}/0.jpg"
        detail["max_quantity"] = pid % 10 + 1
        detail["variant"] = {"id": 7000} if p["variants"] else None
        detail["variants"] = [
            {"price": p["price"], "currency_code": p["currency"],
             "title": p["name"], "vendor": p["brand"], "id": 7000 + k,
             "image": f"//img.overrock.example.com/v/{pid}/{k}.jpg",
             "sku": f"OS{pid}-{k}", "variant_title": v["value"]}
            for k, v in enumerate(p["variants"])
        ] or None
        overview = [{"name": s["name"], "value": s["value"]}
                    for s in p["specifications"]] or None
        detail["overview"] = overview
        detail["details_table"] = overview
        detail["review_aspects"] = [
            {"name": f"user{k}", "headline": f"Review {k}",
             "comments": f"Comment body {k} for {pid}",
             "rating": (pid + k) % 5 + 1, "helpful_votes": k,
             "not_helpful_votes": (k + 1) % 2, "helpful_score": 50 + k,
             "is_staff_reviewer": False, "is_verified_buyer": k % 2 == 0,
             "is_verified_reviewer": True}
            for k in range(pid % 3 + 1)
        ]
        detail["country_of_origin"] = "US"
    elif profile == "escaped-component-detail":
        pid = int(p["product_id"])
        # Field set mirrors the reference's committed golden exactly
        # (bestbuy/bestbuy_detail.json keys, in parser insertion order)
        # plus upc from the initial_data carve (parse_bestbuy_detai.py:140).
        detail = {
            "name": p["name"],
            "brand": p["brand"],
            "url": url,
            "images": list(p["images"]),
            "price": p["price"],
            "currency": "USD",
            "currency_symbol": "$",
            "product_id": p["product_id"],
            "rating": float(f"{p['rating']:.1f}"),
            "total_reviews": p["total_reviews"],
            "in_stock": p["in_stock"],
            # breadcrumbs minus site-root crumb, //text() zip //@href
            "categories": [
                {"name": c, "url": f"/c/{c.lower()}"}
                for c in p["categories"]],
            "description": p["description"] + " Extra details.",
            "included_items": (
                [f"Unit {pid % 4}", "Manual"] if pid % 2 == 0 else []),
            "product_features": [
                {"name": f"Feature {k}", "value": feat}
                for k, feat in enumerate(p["features"])],
            # component rendered iff pid%3==0; certified flag pid%6==0 —
            # pid%6==0 implies both, so the expectation collapses to it
            "is_energy_star_certified": pid % 6 == 0,
            "model_no": f"BB-{pid}",
            "specifications": [
                {"type": "General", "name": s["name"], "value": s["value"]}
                for s in p["specifications"]],
            "upc": f"0{p['product_id']}8",
        }
    elif profile == "webpack-detail":
        pid = int(p["product_id"])
        main_image = (f"https://img.wayflair.example.com/5000/50001/p/"
                      f"{pid}_main.jpg")
        vtype = p["variants"][0]["type"] if p["variants"] else "Color"
        # Reference field set/order (parse_wayfair.py:67-235); envelope is
        # the product_url variant (:36,57) — returned directly below.
        detail = {
            "name": p["name"],
            "main_image": main_image,
            "images": [u.replace("/p/", "/resize-h800-w800/compr-r85/p/")
                       for u in p["images"]],
            "price": p["price"],
            "list_price": p["list_price"],
            "currency": "USD" if pid % 2 == 0 else "$",
            "description": None,
            "sku_id": f"W{p['product_id']}",
            "brand": p["brand"],
            "rating": float(f"{p['rating']:.1f}"),
            "total_ratings": p["total_ratings"],
            "total_reviews": None,
            "reviews": [],
            "retailer_badge": None,
            "variant": [{"type": vtype, "value": v["value"]}
                        for v in p["variants"]],
            "variants": [
                {"type": vtype, "value": v["value"],
                 "image_url": main_image.replace(
                     "/5000/50001/", f"/{8000 + k}/{8000 + k}/")}
                for k, v in enumerate(p["variants"])
            ] + [
                {"type": vtype, "value": f"Unused{k}",
                 "image_url": main_image.replace(
                     "/5000/50001/", f"/{9900 + k}/{9900 + k}/")}
                for k in range(2)
            ],
            "delivery_postal_code": f"100{pid % 90:02d}",
            "delivery_postal_code_city": "New York",
            "shipping_info": None,
            "features": None,
            "at-a-glance": None,
        }
        return {
            "success": True,
            "product_url": url,
            "result_count": 1,
            "detail": detail,
            "remaining_credits": None,
        }
    elif profile == "discover-detail":
        pid = int(p["product_id"])
        detail["description"] = None
        detail["tpnb"] = f"0{p['product_id']}"
        detail["tpnc"] = f"1{p['product_id']}"
        detail["gtin"] = f"5{p['product_id']}"
        detail["image_url"] = p["images"][0]
        detail["features"] = list(p["features"])
        detail["pack_size"] = [{"value": "1", "units": "EA"}]
        detail["storage"] = (["Keep refrigerated", "Use within 3 days"]
                             if pid % 2 == 0 else None)
        detail["nutrition"] = ([
            {"name": "Energy", "value1": f"{pid % 900}kJ",
             "value2": f"{pid % 215}kcal", "value3": None, "value4": None},
            {"name": "Fat", "value1": f"{pid % 30}g", "value2": "-",
             "value3": None, "value4": None},
        ] if pid % 3 == 0 else [])
        detail["reviews"] = [
            {"rating": (pid + k) % 5 + 1, "author": f"t_user{k}",
             "status": "APPROVED", "summary": f"Summary {k}",
             "text": f"Review text {k} for {p['product_id']}",
             "is_syndicated": k % 2 == 0, "syndication_source": "TescoSrc"}
            for k in range(pid % 2 + 1)]
        detail["currency"] = "GBP"
        detail["currency_symbol"] = "£"
        detail["categories"] = [p["categories"][0]]
        detail["list_price"] = None
        detail["variants"] = None
        detail["specifications"] = None
        detail["in_stock"] = None
        detail["total_ratings"] = None
    elif profile == "nextdata-detail":
        pid = int(p["product_id"])
        detail["id"] = p["product_id"]
        # {name, url} dicts with the walmart.com prefix — the committed
        # walmart_detail*.json golden shape.
        detail["categories"] = [
            {"name": c,
             "url": ("https://www.walmart.com/cp/"
                     + c.lower().replace(" ", "-"))}
            for c in p["categories"]]
        detail["variants"] = [
            {"type": "Color", "value": v["value"], "available": v["available"]}
            for v in p["variants"]
        ]
        # idml projection expectations, written out literally (T2/T3/T17).
        detail["product_highlights"] = [{"name": f} for f in p["features"][:2]]
        detail["warranty_info"] = f"{pid % 5 + 1} year limited"
        if pid % 3 == 0:
            detail["nutrition_facts"] = {
                "calorie_info": {"main_nutrient": {
                    "name": "Calories", "amount": str(100 + pid % 400)}},
                "key_nutrients": {"children": [
                    {"nutrient_name": "TotalFat",
                     "amount_per_serving": f"{pid % 30}g"}]},
                "vitamin_minerals": None,
                "serving_info": {"servings_per_container": str(pid % 8 + 1),
                                 "serving_size": "1 cup"},
                "additional_disclaimer": None,
                "static_content": None,
            }
        detail["key_features"] = list(p["features"])
        detail["seller_name"] = f"{p['brand']} Official Store"
        detail["seller_url"] = (
            f"https://www.walmart.com/seller/S{p['product_id']}")
        detail["est_delivery_date"] = f"2025-{pid % 9 + 1:02d}-{pid % 28 + 1:02d}"
        detail["returns_info"] = "Free 90-day returns"
    elif profile == "ldjson-detail":
        detail["list_price"] = None
        detail["specifications"] = None
        detail["variants"] = None
        detail["categories"] = [
            {"name": c,
             "url": ("https://www.walmarty.example.com/cat/"
                     + c.lower().replace(" ", "-"))}
            for c in p["categories"]
        ]
        detail["is_subscription"] = False
        detail["offer_text"] = ("for 36 months, 0% APR"
                                if int(p["product_id"]) % 2 == 0 else None)
        detail["top_reviews"] = [
            {"review_title": rv["name"],
             "review_text": rv["reviewBody"],
             "rating": rv["reviewRating"]["ratingValue"],
             "date": rv["_iso"],
             "reviewer_name": rv["author"]["name"]}
            for rv in _ldjson_reviews(idx)
        ]

    return {
        "success": True,
        "url": url,
        "result_count": 1,
        "detail": detail,
        "remaining_credits": None,
    }
