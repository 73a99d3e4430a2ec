package com.example.extensions

import com.example.extensions.entities.ExtendMe
import com.example.extensions.entities.ExtendMeFromProperty
import com.example.extensions.imported.print
import com.example.extensions.utils.reverse
import com.example.extensions.utils.reversed

fun ExtendMe.printValue() {
    println(value)
}

val ExtendMe.extend: ExtendMeFromProperty
    get() = ExtendMeFromProperty(value.uppercase())

fun callToExtensions(extendMe: ExtendMe) {
    extendMe.printValue()
    extendMe.extend.printValue()
}

fun callToImportedExtensions(extendMe: ExtendMe) {
    extendMe.print()
    extendMe.reverse().printValue()
    extendMe.reversed.print()
}
